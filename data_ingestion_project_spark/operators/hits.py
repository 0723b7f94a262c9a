"""HITS (Kleinberg hubs & authorities) over a bipartite interaction
graph — the third member of the repo's iterative-ranking family next
to operators/pagerank.pagerank (damped uniform walk) and
stationary_distribution (weighted Markov chain): mutually-recursive
scores where a good HUB points at good AUTHORITIES and vice versa.
On a customer→supplier purchase graph the authority score ranks
suppliers by how much well-connected-customer attention they attract
— a different signal from raw order counts (a supplier serving ten
one-shop customers outranks one serving ten strangers who each buy
everywhere).

Determinism contract (the pagerank module's, verbatim): per
iteration, the inbox sums fold EXACT decimals of already-rounded
scores (any partial-aggregation order gives the same total), the L1
normalization is one value-determined double division, and the
normalized scores re-round to a fixed scale — so a SQL engine
unrolling the same iterations reproduces every score bit-for-bit,
which is what lets the DuckDB oracle certify an iterative algorithm
value-exactly (hits_unrolled_sql).

Scale: each iteration is two keyed equi-joins + two aggregations over
the EDGE list (shuffles on src/dst hash keys — never a broadcast of a
node-cardinality frame) plus two 1-row totals; the edge list is
checkpointed once and reused, and lineage is truncated per round so
plan depth stays constant (the pagerank posture).

Reference parity: n/a (SURVEY.md §2 marks all analytics absent);
north-star graph-analytics component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.materialize import pin

SCORE_SCALE = 12  # per-iteration normalized-score rounding
_DEC = "decimal(38,14)"  # exact inbox accumulator over rounded scores


def hits(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, DataFrame]:
    """Fixed-iteration HITS over a (deduplicated) directed edge table.
    Returns ``(hubs, authorities)`` frames: (node, hub) over the
    source side and (node, authority) over the destination side, both
    L1-normalized (scores sum to ~1 within rounding).

    ``iterations`` is a fixed count, not a convergence test, for the
    same reason as pagerank: the unrolled plan is deterministic,
    resumable, and SQL-replayable.  Must be >= 1: zero iterations has
    no authority frame to return (scores exist only after the first
    hub->authority pass)."""
    if iterations < 1:
        raise ValueError(f"hits requires iterations >= 1, got {iterations}")
    e = pin(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct())
    h = e.select("src").distinct().select("src", F.lit(1.0).alias("h"))
    a = None
    for i in range(iterations):
        ar = e.join(h, "src").groupBy("dst").agg(
            F.sum(F.col("h").cast(_DEC)).alias("ar")
        )
        at = ar.agg(F.sum("ar").alias("t"))
        a = ar.crossJoin(F.broadcast(at)).select(
            "dst",
            F.round(
                F.col("ar").cast("double") / F.col("t").cast("double"), SCORE_SCALE
            ).alias("a"),
        )
        hr = e.join(a, "dst").groupBy("src").agg(
            F.sum(F.col("a").cast(_DEC)).alias("hr")
        )
        ht = hr.agg(F.sum("hr").alias("t"))
        h = hr.crossJoin(F.broadcast(ht)).select(
            "src",
            F.round(
                F.col("hr").cast("double") / F.col("t").cast("double"), SCORE_SCALE
            ).alias("h"),
        )
        if i < iterations - 1:
            a = pin(a, eager=False)
            h = pin(h, eager=False)
    hubs = h.select(F.col("src").alias("node"), F.col("h").alias("hub"))
    auths = a.select(F.col("dst").alias("node"), F.col("a").alias("authority"))
    return hubs, auths


def hits_unrolled_sql(edges_cte: str, iterations: int = 5) -> str:
    """ANSI-SQL twin for the oracle gate: chained CTEs over
    ``edges_cte`` (a CTE providing DISTINCT (src, dst) rows), ending
    with CTEs ``hub{iterations}`` (src, h) and ``auth{iterations}``
    (dst, a). Bit-identical by the module determinism contract.
    ``iterations`` must be >= 1 (matching :func:`hits`): with 0 the
    emitted SQL would reference nonexistent auth0/hub0 CTEs."""
    if iterations < 1:
        raise ValueError(f"hits_unrolled_sql requires iterations >= 1, got {iterations}")
    # Every CTE is referenced EXACTLY ONCE downstream: DuckDB inlines
    # CTEs, so a normalization written as "raw CROSS JOIN (SELECT
    # SUM(raw))" references the raw frame twice and doubles the
    # re-evaluated subtree per iteration — 4^iterations blowup,
    # measured 135 s vs ~1 s for this reference-once form. The L1
    # total is therefore SUM(...) OVER () on the same frame: the
    # identical exact decimal total, one reference.
    parts = [
        f"h0 AS (SELECT DISTINCT src, CAST(1.0 AS DOUBLE) AS h FROM {edges_cte})"
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""ar{i} AS (
  SELECT e.dst, SUM(CAST(h.h AS DECIMAL(38,14))) AS ar
  FROM {edges_cte} e JOIN h{i - 1} h ON h.src = e.src
  GROUP BY e.dst
), auth{i} AS (
  SELECT dst,
         ROUND(CAST(ar AS DOUBLE) / CAST(SUM(ar) OVER () AS DOUBLE),
               {SCORE_SCALE}) AS a
  FROM ar{i}
), hr{i} AS (
  SELECT e.src, SUM(CAST(a.a AS DECIMAL(38,14))) AS hr
  FROM {edges_cte} e JOIN auth{i} a ON a.dst = e.dst
  GROUP BY e.src
), h{i} AS (
  SELECT src,
         ROUND(CAST(hr AS DOUBLE) / CAST(SUM(hr) OVER () AS DOUBLE),
               {SCORE_SCALE}) AS h
  FROM hr{i}
)"""
        )
    return ",\n".join(parts)
