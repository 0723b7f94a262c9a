"""Iterative graph operators on DataFrames: connected components.

The LLM-pipeline use case: near-dup pair generation (MinHash/winnow/
Jaccard) emits EDGES; dedup needs the transitive closure — duplicate
CLUSTERS — so one canonical document per component can be kept. That
closure is an iterative fixpoint, not a single SQL shape, so this is
one of the genuinely non-declarative operators (like the Lloyd loop in
operators/similarity.ivf_centroids): a driver-side loop over pure
DataFrame joins, converging in O(component diameter) rounds.

Algorithm: min-label propagation. Every node starts labeled with its
own id; each round every node takes the min label over itself and its
neighbors; at the fixpoint every node carries the min node id of its
component. Near-dup clusters have small diameter (duplicates of one
document link to each other), so a handful of rounds suffice; for
high-diameter graphs at 100 TB swap in the alternating large-star /
small-star formulation (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) which converges in O(log²) rounds —
the round structure below (join + groupBy-min per round) is the same.

Each round is localCheckpoint'ed: it materializes the labels and cuts
the lineage chain, without which iteration i re-executes all previous
rounds and plan size grows without bound. Convergence is detected from
sum(label): min-propagation only ever lowers labels, so the sum is
strictly decreasing until the fixpoint — one cheap aggregate per
round, no self-join diffing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.materialize import pin


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Label every node of the undirected graph with the minimum node
    id reachable from it. Returns (node, comp) — one row per distinct
    node appearing in any edge. Deterministic for any partitioning.
    Raises if ``max_iter`` rounds do not reach the fixpoint (graph
    diameter exceeds max_iter)."""
    dtypes = dict(edges.dtypes)
    for col in (src, dst):  # BOTH ends: a string dst would coerce the
        # union to string just as silently as a string src
        id_type = dtypes.get(col, "")
        if id_type not in ("bigint", "int", "smallint", "tinyint"):
            # The sum-based convergence check is only sound for integral
            # labels (sum of a string column is NULL → None == None would
            # declare convergence after round 1, silently wrong). Reject
            # rather than be wrong; map string ids through xxhash64 or a
            # dense id first.
            raise ValueError(
                f"connected_components requires integral node ids, got {id_type!r} "
                f"for {col!r} — hash or dense-rank string ids first"
            )
    # Materialize the directed edge list ONCE, before the symmetric
    # union: the union's two branches are separate plan subtrees, so an
    # un-checkpointed input would execute the caller's whole
    # edge-producing pipeline (e.g. the winnow candidate generation)
    # TWICE — Spark does not share common subexpressions across union
    # branches. Observed 2× on dup_cluster_sizes before this.
    directed = pin(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    # ... and the symmetric closure once more: every propagation round
    # joins against it — O(upstream + rounds), not O(rounds × upstream).
    sym = pin(directed.union(
        directed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct())
    from pyspark.sql import Observation

    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("comp")
    )
    # observe() on the eager checkpoint: the initial label sum rides the
    # materialization job instead of costing a separate aggregate action.
    obs0 = Observation("cc_init")
    labels = labels.observe(obs0, F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"))
    labels = pin(labels)
    prev_sum = obs0.get["s"]

    for i in range(max_iter):
        prop = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("comp")
        )
        new_labels = (
            labels.unionByName(prop).groupBy("node").agg(F.min("comp").alias("comp"))
        )
        # Piggyback the convergence aggregate on the checkpoint job via
        # observe(): one Spark job per round instead of two (the
        # observation fills during the eager materialization, so the
        # .get below does not launch a new action).
        obs = Observation(f"cc_round_{i}")
        new_labels = new_labels.observe(obs, F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"))
        new_labels = pin(new_labels)
        new_sum = obs.get["s"]
        labels = new_labels
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def _validate_integral_ids(edges: DataFrame, src: str, dst: str) -> None:
    dtypes = dict(edges.dtypes)
    for col in (src, dst):
        id_type = dtypes.get(col, "")
        if id_type not in ("bigint", "int", "smallint", "tinyint"):
            raise ValueError(
                f"connected components require integral node ids, got {id_type!r} "
                f"for {col!r} — hash or dense-rank string ids first"
            )


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., SoCC'14 §3): for every node
    u, connect each STRICTLY LARGER neighbor v to m = min(Γ(u) ∪ {u}).
    Emitted edges always point from larger to smaller, and large nodes'
    edges get rewired toward local minima — the phase that cuts long
    chains in half.  One groupBy(u) for the minimum + one equi-join to
    rewrite; no cross join, no driver data."""
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge toward its smaller
    endpoint, then for every node u connect each (smaller-or-equal)
    neighbor AND u itself to m = min(Γ(u) ∪ {u}) — flattening local
    star fragments onto their minimum."""
    oriented = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
    joined = oriented.join(mins, "a")
    rewired = joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
    selfed = joined.select(F.col("a"), F.col("m").alias("b")).distinct()
    return rewired.union(selfed).filter(F.col("a") != F.col("b")).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log² n)-round formulation for
    HIGH-DIAMETER graphs, where plain min-label propagation
    (:func:`connected_components`) needs O(diameter) rounds.

    Each round is two groupBy-min + join passes; edges monotonically
    migrate toward component minima until the edge set is a fixpoint —
    a union of stars, every node linked directly to its component's
    minimum id.  Convergence is detected exactly: a cheap
    (count, sum(a), sum(b)) certificate rides each round's checkpoint
    job via ``observe``; only when it repeats is true set equality
    confirmed with one ``exceptAll`` (both sides are distinct sets, so
    equal count + empty difference ⇒ equality) — so the exact check
    runs once, at the candidate fixpoint, not every round.  Returns
    (node, comp) with the same semantics as
    :func:`connected_components`: one row per node appearing in any
    edge (self-loop-only nodes are singleton components).
    """
    _validate_integral_ids(edges, src, dst)
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Remember every node up front (BEFORE dropping self-loops — a node
    # appearing only as (x, x) is still a singleton component): star
    # contraction deletes dominated nodes' own edges, but they must
    # still appear in the output.
    nodes = pin(
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
    )
    e = pin(raw.filter(F.col("a") != F.col("b")).distinct())
    from pyspark.sql import Observation

    prev_cert: tuple | None = None
    for i in range(max_iter):
        stepped = _small_star(_large_star(e))
        obs = Observation(f"ccs_round_{i}")
        stepped = stepped.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
            F.sum(F.col("b").cast("decimal(38,0)")).alias("sb"),
        )
        stepped = pin(stepped)
        got = obs.get
        cert = (got["n"], got["sa"], got["sb"])
        prev_e, e = e, stepped
        if cert == prev_cert and stepped.exceptAll(prev_e).isEmpty():
            # Fixpoint: e is a union of stars (a → component min).
            comp = e.select(F.col("a").alias("node"), F.col("b").alias("comp"))
            return (
                nodes.join(comp, "node", "left")
                .select("node", F.coalesce("comp", "node").alias("comp"))
            )
        prev_cert = cert
    raise RuntimeError(f"connected_components_star did not converge in {max_iter} rounds")


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
) -> DataFrame:
    """FIXED-ROUND k-core peeling over a symmetrized edge table:
    each round drops every node whose current degree is below ``k``
    (and the edges touching it), the textbook iterative peel
    (Seidman 1983).  Like the fixed-iteration PageRank
    (operators/pagerank.py), the round count is part of the operator's
    SPEC — both the Spark loop and the SQL oracle unroll exactly
    ``rounds`` peels, so results replay value-exactly; once the peel
    reaches its fixpoint the remaining rounds are no-ops, and the true
    k-core is obtained whenever the graph's peeling depth is within
    ``rounds`` (pinned for the corpus graphs in pytest).

    Scale: each round is one degree aggregation + two semi-joins over
    the SHRINKING edge list — shuffles keyed by node id, no windows,
    nothing corpus-sized beyond the edges themselves; each round is
    pinned (bounded lineage, no re-execution of prior rounds).

    Returns (node, core_degree) for nodes surviving all rounds, with
    their degree inside the surviving subgraph.
    """
    e = pin(edges.select(src, dst))
    for _ in range(rounds):
        deg = e.groupBy(src).agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select(src)
        e = pin(
            e.join(keep, src, "left_semi")
            .join(keep.select(F.col(src).alias(dst)), dst, "left_semi")
        )
    return (
        e.groupBy(src)
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col(src).alias("node"), "core_degree")
    )


def k_core_unrolled_sql(edges_cte: str, k: int, rounds: int = 8) -> str:
    """ANSI-SQL twin of :func:`k_core` for the oracle gate: the same
    fixed peel rounds as chained CTEs over ``edges_cte`` (a CTE
    providing symmetrized (src, dst)).  Ends with CTE ``corefinal``
    (node, core_degree); the caller SELECTs from it."""
    # MATERIALIZED: each e{r}/k{r} is referenced multiple times by the
    # next round; DuckDB inlines plain CTEs, which makes the reference
    # tree (and parquet re-opens) grow EXPONENTIALLY with rounds.
    parts = [f"e0 AS MATERIALIZED (SELECT src, dst FROM {edges_cte})"]
    for r in range(rounds):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e{r} GROUP BY src)"
        )
        parts.append(f"k{r} AS MATERIALIZED (SELECT src FROM d{r} WHERE deg >= {k})")
        parts.append(
            f"e{r + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{r} e\n"
            f"  WHERE e.src IN (SELECT src FROM k{r})\n"
            f"    AND e.dst IN (SELECT src FROM k{r}))"
        )
    parts.append(
        f"corefinal AS (SELECT src AS node, COUNT(*) AS core_degree "
        f"FROM e{rounds} GROUP BY src)"
    )
    return ",\n".join(parts)


def bfs_distances(
    edges: DataFrame,
    seed: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 8,
) -> DataFrame:
    """Unweighted single/multi-source shortest-path distances (BFS) over
    a directed edge table (symmetrize upstream for undirected), the
    graph-family member beyond closure (connected_components), peeling
    (k_core) and centrality (pagerank): (node, dist) for every node
    within ``max_depth`` hops of ``seed`` — a one-column DataFrame of
    source node ids (dist 0), kept relational so the seed can itself be
    the result of a plan (e.g. "the min node id", "all nodes of
    cluster X") with no driver round-trip.

    FRONTIER formulation, not full relaxation: round r joins only the
    nodes FIRST reached at round r-1 against the edge list, then
    anti-joins the settled set — so a node's edges are expanded exactly
    once and total work is O(E + V) across all rounds, the Pregel/
    delta-iteration shape, vs O(rounds * E) for naive Bellman-Ford
    re-relaxation. Each round: one semi-join + one distinct + one
    anti-join, all shuffles keyed by node id; each round pinned
    (bounded lineage). Rounds stop
    early at the reachability fixpoint (an empty frontier makes all
    remaining rounds no-ops — same fixed-upper-bound spec posture as
    k_core, so the SQL twin unrolling exactly ``max_depth`` levels
    replays value-exactly whenever the reachable eccentricity is
    within ``max_depth``, pinned for the corpus graphs in pytest)."""
    e = pin(edges.select(src, dst))
    cols = seed.columns
    settled = pin(seed.select(F.col(cols[0]).alias("node"), F.lit(0).alias("dist")))
    frontier = settled
    for depth in range(1, max_depth + 1):
        nxt = (
            e.join(frontier.select(F.col("node").alias(src)), src, "left_semi")
            .select(F.col(dst).alias("node"))
            .distinct()
        )
        new = pin(nxt.join(settled, "node", "left_anti").select("node", F.lit(depth).alias("dist")))
        if new.isEmpty():
            break
        settled = pin(settled.unionByName(new))
        frontier = new
    return settled


def bfs_unrolled_sql(edges_cte: str, seed_sql: str, max_depth: int = 8) -> str:
    """ANSI-SQL twin of :func:`bfs_distances` for the oracle gate: a
    recursive frontier walk over ``edges_cte`` (providing (src, dst)),
    seeded by ``seed_sql`` (a query yielding one column of node ids).
    The UNION-distinct working table carries (node, depth) pairs with
    depth bounded by ``max_depth``; MIN over depths per node is the
    BFS distance. Ends with CTE ``bfsreach`` (node, dist); the caller
    SELECTs from it. Requires the statement to open WITH RECURSIVE."""
    return (
        f"bfswalk(n, d) AS (\n"
        f"  SELECT n, 0 AS d FROM ({seed_sql}) s(n)\n"
        f"  UNION\n"
        f"  SELECT e.dst, w.d + 1 FROM bfswalk w\n"
        f"  JOIN {edges_cte} e ON e.src = w.n\n"
        f"  WHERE w.d < {max_depth}\n"
        f"),\n"
        f"bfsreach AS (SELECT n AS node, MIN(d) AS dist FROM bfswalk GROUP BY n)"
    )
