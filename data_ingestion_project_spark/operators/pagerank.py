"""PageRank as an unrolled iterative DataFrame plan.

The iterative-algorithm family member beyond connected components
(operators/graph.py): fixed-iteration power method over an edge
table, each round ONE equi-join (ranks x out-edges) plus ONE
aggregation shuffle on the destination — the exact shape GraphX /
Pregel lowers to, expressed declaratively so Catalyst handles
partial aggregation and join strategy.

Determinism contract (what makes a float-iterating algorithm
oracle-checkable across engines): every per-row float op is
value-determined (same inputs → bit-identical IEEE result in any
engine), and every SUM — the only order-dependent op — runs over
pre-rounded values in DECIMAL, which is exact and associative. So
iteration t's ranks are a pure function of iteration t-1's, and a SQL
engine unrolling the same t steps reproduces them bit-for-bit:

- contribution  = ROUND(rank / degree, 14)       (value-determined)
- inbox         = SUM(DECIMAL(38,14) contribs)    (exact, any order)
- next rank     = ROUND((1-d)/N + d * inbox, 10)  (value-determined)

Scale: each iteration shuffles on the node id; hash-partitioning both
ranks and edges by the join key keeps it a co-partitioned join. For
long chains, localCheckpoint every ~10 rounds truncates lineage (the
same posture as graph.py's propagation loop); at 5-20 iterations the
linear plan is fine as-is.

Assumes every node has outdegree >= 1 — true by construction for
symmetrized (undirected) graphs, which is the near-dup use case. With
dangling nodes the lost mass would make ranks sum below 1 (standard
power-method caveat; redistribute or symmetrize upstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.materialize import pin

CONTRIB_SCALE = 14  # per-edge contribution rounding (value-determined)
RANK_SCALE = 10  # per-iteration rank rounding
_DEC = "decimal(38,14)"  # exact inbox accumulator


def symmetrize(pairs: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Undirected pair list -> directed edge table (both directions),
    columns (src, dst). Self-loops are dropped (a self-edge would let
    a node vote for itself and distort the degree)."""
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    rev = pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst"))


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    dangling: str = "ignore",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table.

    ``dangling`` selects the graph model:

    - ``"ignore"`` (default): no dangling-mass recycling — the right
      model for symmetrized graphs (the near-dup use case), where
      every node has outdegree >= 1 and nothing dangles. Returns
      (node, rank) for EVERY node of the edge list (``n`` in the
      teleport constant counts SOURCE nodes). A source with indegree 0
      (possible on general directed inputs) holds the exact
      power-method floor ``(1-damping)/n`` every round and KEEPS
      voting: a zero-contribution row per source rides every round's
      inbox aggregate (a union, not a node⨝node repair join — ADVICE
      r7), so its outgoing mass never silently vanishes. An
      outdegree-0 DESTINATION reports its received rank, but that
      mass leaves the chain next round (that is the 'ignore'
      semantic); use ``"redistribute"`` to recycle it. This is the
      SQL-replayable path the oracle certifies.
    - ``"redistribute"``: the general DIRECTED-graph model (link
      graphs): the vertex set is sources ∪ destinations, and each
      round the rank mass sitting on dangling nodes (outdegree 0) is
      redistributed uniformly — the standard power-method treatment,
      so ranks still sum to ~1. Costs one extra tiny aggregate + a
      broadcast scalar per round.

    ``iterations`` is deliberately a fixed count, not a convergence
    test: the unrolled plan is deterministic, resumable, and
    SQL-replayable, and a production run picks the count from the
    graph's mixing time.
    """
    if dangling not in ("ignore", "redistribute"):
        raise ValueError(f"dangling must be 'ignore' or 'redistribute', got {dangling!r}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Materialize the degree-annotated edge list ONCE: every iteration
    # joins against it, and without the checkpoint each iteration's
    # plan re-derives it from the raw edges (5x the candidate-pair
    # pipeline on the dup-graph query — measured 3.6 s -> ~1 s at
    # sf0.1). Same posture as graph.py's propagation loop.
    out_edges = pin(e.join(deg, "src"))

    if dangling == "ignore":
        # one zero-contribution row per SOURCE, unioned into every
        # round's inbox: keeps indegree-0 sources alive at the exact
        # teleport floor (ADVICE r7) WITHOUT a per-round node⨝node
        # repair join — a zero term changes no exact decimal sum, and
        # the union rides the aggregation shuffle that already exists.
        # Materialized ONCE: without the checkpoint every iteration
        # re-derives deg (a full groupBy over the edge list) just to
        # produce the zero rows (measured ~+1 s/round on the dup graph)
        zero = pin(deg.select("src", F.lit(0.0).alias("c")))
        # r13 (guide §2.4): n = |source nodes| = |deg rows| — count the
        # node-scale zero checkpoint instead of re-shuffling the
        # EDGE-scale checkpoint through a distinct (deg is distinct on
        # src by construction of its groupBy)
        n = zero.count()
        teleport = (1.0 - damping) / n
        ranks = deg.select("src", F.lit(1.0 / n).alias("rank"))
        for i in range(iterations):
            contrib = out_edges.join(ranks, "src").select(
                F.col("dst").alias("src"),
                F.round(F.col("rank") / F.col("deg"), CONTRIB_SCALE).alias("c"),
            )
            ranks = contrib.unionByName(zero).groupBy("src").agg(
                F.round(
                    F.lit(teleport)
                    + F.lit(damping) * F.sum(F.col("c").cast(_DEC)).cast("double"),
                    RANK_SCALE,
                ).alias("rank")
            )
            # Truncate lineage so plan depth (and Catalyst analysis
            # cost) stays constant per round instead of growing with i.
            if i < iterations - 1:
                ranks = pin(ranks, eager=False)
        return ranks.select(F.col("src").alias("node"), "rank")

    # general directed model: full vertex set, dangling mass recycled
    nodes = pin(e.select("src").unionByName(e.select(F.col("dst").alias("src"))).distinct())
    n = nodes.count()
    teleport = (1.0 - damping) / n
    ranks = nodes.select("src", F.lit(1.0 / n).alias("rank"))
    for i in range(iterations):
        with_deg = ranks.join(deg, "src", "left")
        # rank mass on outdegree-0 nodes, summed exactly (decimal over
        # already-rounded ranks — value-determined like the inbox)
        dm = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.sum(F.col("rank").cast(_DEC)).cast("double").alias("dm"))
            .first()["dm"]
            or 0.0
        )
        contrib = out_edges.join(ranks, "src").select(
            F.col("dst").alias("src"),
            F.round(F.col("rank") / F.col("deg"), CONTRIB_SCALE).alias("c"),
        )
        inbox = contrib.groupBy("src").agg(
            F.sum(F.col("c").cast(_DEC)).cast("double").alias("m")
        )
        share = damping * dm / n  # uniform dangling share, driver scalar
        ranks = (
            nodes.join(inbox, "src", "left")
            .select(
                "src",
                F.round(
                    F.lit(teleport)
                    + F.lit(share)
                    + F.lit(damping) * F.coalesce(F.col("m"), F.lit(0.0)),
                    RANK_SCALE,
                ).alias("rank"),
            )
        )
        if i < iterations - 1:
            ranks = pin(ranks, eager=False)
    return ranks.select(F.col("src").alias("node"), "rank")


def pagerank_unrolled_sql(
    edges_cte: str,
    iterations: int = 5,
    damping: float = 0.85,
) -> str:
    """The ANSI-SQL twin of ``pagerank`` for the oracle gate: unrolls
    the same fixed iterations as chained CTEs over ``edges_cte`` (a
    CTE name providing (src, dst)). Bit-identical by the determinism
    contract in the module docstring."""
    # Teleport numerator is EMITTED as the Python IEEE double
    # (repr(1.0 - damping), e.g. 0.15000000000000002) and cast to
    # DOUBLE — the Spark side computes (1.0 - damping) in Python
    # binary arithmetic, while a SQL-side `1.0 - 0.85` is DECIMAL
    # subtraction (exactly 0.15, one ulp away), which would break the
    # bit-identical contract right at a rounding boundary. Same for
    # the damping factor.
    d = f"CAST({damping!r} AS DOUBLE)"
    tele = f"CAST({(1.0 - damping)!r} AS DOUBLE)"
    parts = [
        f"deg AS (SELECT src, COUNT(*) AS deg FROM {edges_cte} GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        "r0 AS (SELECT src, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM deg, nn)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""r{i} AS (
  SELECT t.src,
         ROUND({tele} / MAX(nn.n)
               + {d} * CAST(SUM(CAST(t.c AS DECIMAL(38,{CONTRIB_SCALE})))
                            AS DOUBLE),
               {RANK_SCALE}) AS rank
  FROM (
    SELECT e.dst AS src, ROUND(r.rank / dg.deg, {CONTRIB_SCALE}) AS c
    FROM {edges_cte} e
    JOIN r{i - 1} r ON r.src = e.src
    JOIN deg dg ON dg.src = e.src
    UNION ALL
    SELECT src, CAST(0.0 AS DOUBLE) AS c FROM deg
  ) t
  CROSS JOIN nn
  GROUP BY t.src
)"""
        )
    return ",\n".join(parts) + f"\nSELECT src AS node, rank FROM r{iterations}"


def stationary_distribution(
    trans: DataFrame,
    iterations: int = 20,
    src: str = "src",
    dst: str = "dst",
    weight: str = "n",
) -> DataFrame:
    """Stationary distribution of a finite Markov chain estimated from
    transition COUNTS: power iteration pi_{t+1} = pi_t P over the
    row-stochastic matrix P(src, dst) = n / sum_dst(n). The weighted
    generalization of :func:`pagerank` (whose P is uniform 1/degree and
    damped); same determinism contract, so a SQL engine unrolling the
    same t steps reproduces the ranks bit-for-bit:

    - cell        = ROUND(n / row_total, 14)          (value-determined)
    - term        = ROUND(pi * cell, 14)              (value-determined)
    - next pi     = ROUND(SUM(DECIMAL terms), 10)     (exact, any order)

    Returns (state, pi) for every state reachable at the final round.
    Assumes every state with inbound mass also has outbound transitions
    (mass on a sink state silently leaves the chain next round — the
    same posture as pagerank's ``dangling="ignore"``); estimate chains
    from bigram counts, where every non-terminal observation has both.

    Scale: the transition matrix is STATE-VOCABULARY-sized (K^2 cells),
    never corpus-sized — estimating it is one count aggregation over
    the data; the iterations then run on the tiny matrix alone, each
    round one equi-join plus one K-row aggregation. The matrix is
    localCheckpoint'ed once so rounds don't re-derive it.
    """
    tot = trans.groupBy(src).agg(F.sum(weight).alias("tot"))
    p = pin(
        trans.join(tot, src)
        .select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.round(F.col(weight) / F.col("tot"), CONTRIB_SCALE).alias("p"),
        )
    )
    k = p.select("src").distinct().count()
    pi = p.select("src").distinct().select(
        F.col("src").alias("state"), F.lit(1.0 / k).alias("pi")
    )
    for i in range(iterations):
        pi = (
            p.join(pi, p["src"] == pi["state"])
            .select(
                F.col("dst").alias("state"),
                F.round(F.col("pi") * F.col("p"), CONTRIB_SCALE).alias("term"),
            )
            .groupBy("state")
            .agg(F.round(F.sum(F.col("term").cast(_DEC)).cast("double"), RANK_SCALE).alias("pi"))
        )
        if i < iterations - 1:
            pi = pin(pi, eager=False)
    return pi


def stationary_unrolled_sql(trans_cte: str, iterations: int = 20) -> str:
    """ANSI-SQL twin of :func:`stationary_distribution` for the oracle
    gate: chained CTEs over ``trans_cte`` providing (src, dst, n).
    Bit-identical by the module determinism contract (the 1/K initial
    mass is ``CAST(1.0 AS DOUBLE)/k`` — the identical IEEE division the
    Spark side performs driver-side)."""
    parts = [
        f"mtot AS (SELECT src, SUM(n) AS tot FROM {trans_cte} GROUP BY src)",
        f"""mp AS (
  SELECT t.src, t.dst,
         ROUND(CAST(t.n AS DOUBLE) / CAST(mtot.tot AS DOUBLE), {CONTRIB_SCALE}) AS p
  FROM {trans_cte} t JOIN mtot ON mtot.src = t.src
)""",
        "mk AS (SELECT COUNT(DISTINCT src) AS k FROM mp)",
        "pi0 AS (SELECT DISTINCT src AS state, CAST(1.0 AS DOUBLE) / mk.k AS pi FROM mp, mk)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""pi{i} AS (
  SELECT mp.dst AS state,
         ROUND(CAST(SUM(CAST(ROUND(pr.pi * mp.p, {CONTRIB_SCALE})
                             AS DECIMAL(38,{CONTRIB_SCALE}))) AS DOUBLE),
               {RANK_SCALE}) AS pi
  FROM mp
  JOIN pi{i - 1} pr ON pr.state = mp.src
  GROUP BY mp.dst
)"""
        )
    return ",\n".join(parts) + f"\nSELECT state, pi FROM pi{iterations}"


def hitting_time(
    trans: DataFrame,
    target: str,
    iterations: int = 60,
    src: str = "src",
    dst: str = "dst",
    weight: str = "n",
) -> DataFrame:
    """Expected steps to ABSORB at ``target`` from every other state,
    by fixed-horizon value iteration over the count-estimated chain:

        h_{k+1}(s) = 1 + sum_dst p(s, dst) * h_k(dst),   h(target) = 0

    with transitions OUT of ``target`` removed (absorbing).  The
    reported value is the exact ``iterations``-step truncation — a
    deterministic quantity both engines reproduce bit-for-bit under
    the module determinism contract (same per-edge ROUND(.., 14)
    contributions, exact DECIMAL folding, per-iteration ROUND(.., 10));
    convergence to the infinite-horizon h is geometric in the
    transient mass, so the horizon is a documented modeling choice,
    not a tolerance.

    Scale: identical posture to :func:`stationary_distribution` — the
    chain is K-vocabulary-sized; every iteration is one equi-join plus
    one K-row aggregation on the tiny localCheckpoint'ed matrix."""
    tot = trans.groupBy(src).agg(F.sum(weight).alias("tot"))
    p = pin(
        trans.join(tot, src)
        .filter(F.col(src) != target)
        .select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.round(F.col(weight) / F.col("tot"), CONTRIB_SCALE).alias("p"),
        )
    )
    h = p.select("src").distinct().select(
        F.col("src").alias("state"), F.lit(0.0).alias("h")
    )
    for i in range(iterations):
        h = (
            p.join(h, p["dst"] == h["state"], "left")
            .select(
                F.col("src").alias("s"),
                F.round(
                    F.coalesce(F.col("h"), F.lit(0.0)) * F.col("p"),
                    CONTRIB_SCALE,
                ).alias("term"),
            )
            .groupBy("s")
            .agg(
                F.round(
                    F.lit(1.0) + F.sum(F.col("term").cast(_DEC)).cast("double"),
                    RANK_SCALE,
                ).alias("h")
            )
            .select(F.col("s").alias("state"), "h")
        )
        if i < iterations - 1 and (i + 1) % 5 == 0:
            # EAGER every 5 rounds: the frame is K rows; fully-lazy
            # checkpoints stack a lineage whose analysis cost grows
            # superlinearly in the horizon (measured: 40 lazy rounds
            # did not finish in minutes), while an eager checkpoint
            # per round costs one Spark job each (measured 14 s for
            # 40).  A 5-round stride keeps analysis depth constant at
            # ~1/5 the job count.
            h = pin(h)
    return h


def hitting_time_unrolled_sql(
    trans_cte: str, target: str, iterations: int = 60
) -> str:
    """ANSI-SQL twin of :func:`hitting_time` for the oracle gate:
    chained CTEs over ``trans_cte`` providing (src, dst, n)."""
    parts = [
        f"htot AS (SELECT src, SUM(n) AS tot FROM {trans_cte} GROUP BY src)",
        f"""hp AS (
  SELECT t.src, t.dst,
         ROUND(CAST(t.n AS DOUBLE) / CAST(htot.tot AS DOUBLE), {CONTRIB_SCALE}) AS p
  FROM {trans_cte} t JOIN htot ON htot.src = t.src
  WHERE t.src <> '{target}'
)""",
        "h0 AS (SELECT DISTINCT src AS state, CAST(0.0 AS DOUBLE) AS h FROM hp)",
    ]
    for i in range(1, iterations + 1):
        # MATERIALIZED: DuckDB inlines plain CTEs, and a 40-deep
        # LEFT-JOIN chain makes the optimizer's join-order search
        # intractable (observed hang); materializing each level keeps
        # the plan linear in the horizon.
        parts.append(
            f"""h{i} AS MATERIALIZED (
  SELECT hp.src AS state,
         ROUND(1.0 + CAST(SUM(CAST(ROUND(COALESCE(hr.h, 0.0) * hp.p,
                                         {CONTRIB_SCALE})
                             AS DECIMAL(38,{CONTRIB_SCALE}))) AS DOUBLE),
               {RANK_SCALE}) AS h
  FROM hp
  LEFT JOIN h{i - 1} hr ON hr.state = hp.dst
  GROUP BY hp.src
)"""
        )
    return ",\n".join(parts) + f"\nSELECT state, h FROM h{iterations}"


# ---------------------------------------------------------------------------
# Driver-exact iteration replay (bounded-collect fast path)
#
# The distributed loops above cost ONE Spark job per round on a frame
# that is K- or K²-sized (K = state vocabulary) — at 20-40 rounds that
# is pure scheduler overhead (~150 ms/round measured), not data work.
# Under the repo's bounded-driver-collect doctrine (the PCA ≤2,145
# moment-cell precedent, operators/pca.py), the exact same quantized
# arithmetic runs driver-side on the collected K² probability cells:
# every step below reproduces the distributed contract bit-for-bit —
#   * Spark ROUND on DoubleType = BigDecimal.valueOf(d) (shortest
#     round-trip decimal string, identical to Python repr(float))
#     .setScale(scale, HALF_UP) → Decimal(repr(x)).quantize(HALF_UP);
#   * the DECIMAL(38,14) fold = exact Decimal sum (associative);
#   * cast-to-double = correctly-rounded float(Decimal), the same as
#     BigDecimal.doubleValue().
# The corpus is still read exactly once (the count aggregation that
# produces `trans`); only the K²-cell matrix crosses to the driver,
# capped by _DRIVER_STATE_CAP.  Equality with the distributed loops is
# pinned by pytest at sf0.001; the DuckDB unrolled-SQL oracles certify
# the replay value-exactly at sf0.01 every round.
# ---------------------------------------------------------------------------

_DRIVER_STATE_CAP = 1024  # collect ≤ K² cells; 1024² ≈ 1M rows max


def _round_half_up(x: float, scale: int) -> float:
    """Spark's ROUND(double, scale): shortest-repr decimal HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def _collect_prob_cells(
    trans: DataFrame, src: str, dst: str, weight: str, exclude_src: str | None = None
) -> list[tuple[str, str, float]]:
    """Collect the raw K² (src, dst, n) counts in ONE job and derive
    the quantized row-stochastic cells driver-side: n/tot on Python
    ints is the identical IEEE double division Spark's Divide performs
    on two longs, and _round_half_up is Spark's ROUND — so the cells
    are bit-identical to the distributed ROUND(n/tot, 14) projection
    without spending Spark jobs on a 25-row groupBy+join."""
    # Guard BEFORE unbounded materialization (ADVICE r11): collect at
    # most cap²+1 rows — the frame is one (src,dst) row per distinct
    # pair, so cap²+1 rows proves K > cap without a second corpus scan
    # (a distinct-count pre-pass would recompute the upstream
    # aggregation), and bounds driver memory at the documented ~1M
    # cells either way.
    _row_cap = _DRIVER_STATE_CAP * _DRIVER_STATE_CAP
    rows = (
        trans.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("n")
        )
        .limit(_row_cap + 1)
        .collect()
    )
    k = len({r.src for r in rows})
    if len(rows) > _row_cap or k > _DRIVER_STATE_CAP:
        raise ValueError(
            f"driver-exact chain replay capped at {_DRIVER_STATE_CAP} states; "
            f"got {'>' if len(rows) > _row_cap else ''}{k}. "
            "Use the distributed stationary_distribution/hitting_time instead."
        )
    tot: dict[str, int] = {}
    for r in rows:
        tot[r.src] = tot.get(r.src, 0) + r.n
    return [
        (r.src, r.dst, _round_half_up(r.n / tot[r.src], CONTRIB_SCALE))
        for r in rows
        if exclude_src is None or r.src != exclude_src
    ]


def stationary_distribution_exact(
    trans: DataFrame,
    iterations: int = 20,
    src: str = "src",
    dst: str = "dst",
    weight: str = "n",
) -> DataFrame:
    """Bit-identical driver replay of :func:`stationary_distribution`
    (see the fast-path contract above): collect the K² ROUND(n/tot, 14)
    cells, run the quantized power iteration in exact Decimal, return
    the same (state, pi) frame."""
    from decimal import ROUND_HALF_UP, Decimal

    spark = trans.sparkSession
    cells = _collect_prob_cells(trans, src, dst, weight)
    states = sorted({s for s, _, _ in cells})
    k = len(states)
    pi: dict[str, float] = {s: 1.0 / k for s in states}
    q = Decimal(1).scaleb(-CONTRIB_SCALE)
    for _ in range(iterations):
        acc: dict[str, Decimal] = {}
        for s, d, p in cells:
            if s in pi:  # inner-join semantics of the distributed loop
                term = _round_half_up(pi[s] * p, CONTRIB_SCALE)
                # HALF_UP, not the context default HALF_EVEN: the
                # distributed loop's double→DECIMAL(38,14) Cast rounds
                # HALF_UP, and repr(term) need not stop at 14 digits
                # (shortest-round-trip), so an exact digit-15 tie must
                # break the same way in both engines (ADVICE r11)
                acc[d] = acc.get(d, Decimal(0)) + Decimal(repr(term)).quantize(
                    q, rounding=ROUND_HALF_UP
                )
        pi = {st: _round_half_up(float(v), RANK_SCALE) for st, v in acc.items()}
    return spark.createDataFrame(
        sorted(pi.items()), schema="state string, pi double"
    )


def hitting_time_exact(
    trans: DataFrame,
    target: str,
    iterations: int = 60,
    src: str = "src",
    dst: str = "dst",
    weight: str = "n",
) -> DataFrame:
    """Bit-identical driver replay of :func:`hitting_time` (same
    fast-path contract): transitions out of ``target`` removed, h
    initialized to 0.0 over the distinct sources, each round
    h(s) = ROUND(1.0 + Σ DECIMAL(ROUND(coalesce(h(dst),0)·p, 14)), 10)."""
    from decimal import ROUND_HALF_UP, Decimal

    spark = trans.sparkSession
    cells = _collect_prob_cells(trans, src, dst, weight, exclude_src=target)
    states = sorted({s for s, _, _ in cells})
    h: dict[str, float] = {s: 0.0 for s in states}
    q = Decimal(1).scaleb(-CONTRIB_SCALE)
    for _ in range(iterations):
        acc: dict[str, Decimal] = {s: Decimal(0) for s in states}
        for s, d, p in cells:
            term = _round_half_up(h.get(d, 0.0) * p, CONTRIB_SCALE)
            # HALF_UP to mirror Spark's double→DECIMAL(38,14) Cast
            # (hitting-time terms reach ~60 with 16 significant digits,
            # where repr can exceed 14 decimal places — ADVICE r11)
            acc[s] += Decimal(repr(term)).quantize(q, rounding=ROUND_HALF_UP)
        h = {st: _round_half_up(1.0 + float(v), RANK_SCALE) for st, v in acc.items()}
    return spark.createDataFrame(
        sorted(h.items()), schema="state string, h double"
    )
