"""Histogram-based decision-stump split scan — the gradient-boosting
tree-learner primitive (the LightGBM/XGBoost-hist design) as a
first-class distributed operator: find, for every embedding dimension,
the axis-aligned threshold that best separates the label classes by
Gini impurity reduction.

Why histogram-based is THE 100 TB shape: the naive split scan sorts
every dimension (64 corpus-sized sorts) or emits per-row×per-threshold
candidates (row-count × grid explode). Instead, ONE pass quantizes
each coordinate into a fixed bucket grid and aggregates
``(dim, bucket, label) → count`` — a frame whose size is
dims × buckets × classes (a few thousand cells REGARDLESS of corpus
size, the covariance-cells/CMS posture). Every candidate threshold's
left/right class counts are then prefix sums over that tiny frame, so
the entire scan after the fact pass is corpus-size-independent and
trivially SQL-replayable (the oracle replays cell-for-cell).

Exactness: bucket = floor(x·scale) on the double value (floor is
exact IEEE both engines); all counts and prefix sums are exact
integers; the squared-count sums Σ_c n_{s,c}² fold in DECIMAL(38,0)/
HUGEINT with the square cast-first (n_c² wraps int64 near 3e9
rows/class, and a Σ of >2 double terms would be order-dependent
across engines); the Gini combination per candidate is then one
value-determined IEEE expression over the exact sums.

Reference parity: n/a (SURVEY.md §2 marks all analytics absent);
north-star ML-pipeline component (feature screening / tree
induction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.materialize import pin


def histogram_cells(
    emb: DataFrame,
    col: str = "embedding",
    label_col: str = "label",
    scale: int = 20,
) -> DataFrame:
    """The ONE corpus pass: ``(dim, b, label, c)`` counts with
    b = floor(x·scale). Cell count is dims × value-range·scale ×
    classes — fixed by the data DOMAIN, not the row count."""
    return (
        emb.select(
            F.col(label_col).alias("label"),
            F.posexplode(col).alias("dim", "x"),
        )
        .select(
            "label",
            "dim",
            F.floor(F.col("x").cast("double") * F.lit(float(scale))).cast("long").alias("b"),
        )
        .groupBy("dim", "b", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def stump_split_gains(cells: DataFrame, scale: int = 20) -> DataFrame:
    """Per (dim, candidate bucket boundary): left/right sizes and the
    Gini gain of splitting at ``x < (b+1)/scale`` — STRICT upper
    bound: the left side aggregates buckets ``b' <= b``, i.e. all
    values with floor(x·scale) <= b, and a value EXACTLY at
    (b+1)/scale has bucket b+1 and lands RIGHT.  Consumers applying
    the reported ``threshold`` must partition with ``x < threshold``
    (not <=) to reproduce n_left/n_right.  The candidate ×
    cell range-join runs entirely on the bounded histogram frame
    (buckets² per dim — constant work), deliberately join-based rather
    than window-based so the plan has no unpartitioned windows and the
    DuckDB oracle replays it with the identical join.

    Returns (dim, b, threshold, n_left, n_right, gain) for every
    candidate with both sides non-empty; gain is the value-determined
    double (unrounded — consumers round at their output grain)."""
    # materialize the histogram ONCE: cand/cum/tot all branch from it,
    # and without the checkpoint each branch re-runs the corpus-sized
    # posexplode pass (the plan census showed 5 fact scans)
    cells = pin(cells)
    cand = cells.select("dim", "b").distinct()
    # per-label cumulative counts at each candidate via bounded range join
    cum = (
        cand.alias("cd")
        .join(
            cells.alias("ce"),
            (F.col("cd.dim") == F.col("ce.dim")) & (F.col("ce.b") <= F.col("cd.b")),
        )
        .groupBy(F.col("cd.dim").alias("dim"), F.col("cd.b").alias("b"), "ce.label")
        .agg(F.sum("ce.c").alias("cum"))
    )
    tot = cells.groupBy("dim", "label").agg(F.sum("c").alias("tot"))
    # DENSIFY: a label with zero mass at or below a candidate boundary
    # has no cum row, but its full count still belongs on the RIGHT
    # side — left-join the candidate × label grid and coalesce to 0
    # (without this, a perfectly-separating boundary loses the far
    # class entirely and the candidate is filtered as one-sided)
    grid = cand.join(tot, "dim")
    _d38 = "decimal(38,0)"
    per = (
        grid.join(cum, ["dim", "b", "label"], "left")
        .withColumn("cum", F.coalesce(F.col("cum"), F.lit(0)))
        .groupBy("dim", "b")
        .agg(
            F.sum("cum").alias("n_left"),
            F.sum(F.col("cum").cast(_d38) * F.col("cum").cast(_d38)).alias("sl2"),
            F.sum(F.col("tot") - F.col("cum")).alias("n_right"),
            F.sum(
                (F.col("tot") - F.col("cum")).cast(_d38)
                * (F.col("tot") - F.col("cum")).cast(_d38)
            ).alias("sr2"),
        )
        .filter((F.col("n_left") > 0) & (F.col("n_right") > 0))
    )
    parent = tot.groupBy("dim").agg(
        F.sum("tot").alias("n_tot"),
        F.sum(F.col("tot").cast(_d38) * F.col("tot").cast(_d38)).alias("st2"),
    )
    nl, nr = F.col("n_left").cast("double"), F.col("n_right").cast("double")
    nt = F.col("n_tot").cast("double")
    gw = (nl - F.col("sl2").cast("double") / nl) + (
        nr - F.col("sr2").cast("double") / nr
    )
    gp = nt - F.col("st2").cast("double") / nt
    return per.join(parent, "dim").select(
        "dim",
        "b",
        ((F.col("b") + 1).cast("double") / F.lit(float(scale))).alias("threshold"),
        "n_left",
        "n_right",
        ((gp - gw) / nt).alias("gain"),
    )


def stump_sql(scale: int = 20, dims: int = 64) -> str:
    """DuckDB twin of histogram_cells → stump_split_gains over the
    ``embeddings`` view, as a CTE chain ending in ``gains`` with the
    same columns — callers append their own selection/ranking.

    ``dims`` must equal the embedding array length: the Spark side
    posexplodes the actual array, so a mismatched constant here would
    silently drop (or fabricate) dimensions instead of failing loudly.
    The len() guard in the first CTE turns a drifted dimensionality
    into a hard error rather than a silent oracle divergence."""
    return f"""
cells AS (
  SELECT label, g.dim - 1 AS dim,
         CAST(floor(CAST(embedding[g.dim] AS DOUBLE) * {scale}.0) AS BIGINT) AS b,
         COUNT(*) AS c
  FROM embeddings CROSS JOIN generate_series(1, {dims}) g(dim)
  WHERE len(embedding) = {dims}
     OR error('stump_sql dims=' || {dims} || ' but embedding len='
              || len(embedding))
  GROUP BY 1, 2, 3
), cand AS (SELECT DISTINCT dim, b FROM cells),
cum AS (
  SELECT cd.dim, cd.b, ce.label, SUM(ce.c) AS cum
  FROM cand cd JOIN cells ce ON ce.dim = cd.dim AND ce.b <= cd.b
  GROUP BY 1, 2, 3
), tot AS (SELECT dim, label, SUM(c) AS tot FROM cells GROUP BY 1, 2),
grid AS (
  SELECT cand.dim, cand.b, tot.label, tot.tot,
         COALESCE(cum.cum, 0) AS cum
  FROM cand
  JOIN tot ON tot.dim = cand.dim
  LEFT JOIN cum ON cum.dim = cand.dim AND cum.b = cand.b
              AND cum.label = tot.label
), per AS (
  SELECT grid.dim, grid.b,
         SUM(grid.cum) AS n_left,
         SUM(CAST(grid.cum AS HUGEINT) * grid.cum) AS sl2,
         SUM(grid.tot - grid.cum) AS n_right,
         SUM(CAST(grid.tot - grid.cum AS HUGEINT) * (grid.tot - grid.cum)) AS sr2
  FROM grid
  GROUP BY 1, 2
  HAVING SUM(grid.cum) > 0 AND SUM(grid.tot - grid.cum) > 0
), parent AS (
  SELECT dim, SUM(tot) AS n_tot,
         SUM(CAST(tot AS HUGEINT) * tot) AS st2
  FROM tot GROUP BY 1
), gains AS (
  SELECT per.dim, per.b,
         CAST(per.b + 1 AS DOUBLE) / {scale}.0 AS threshold,
         per.n_left, per.n_right,
         ((CAST(n_tot AS DOUBLE) - CAST(st2 AS DOUBLE) / CAST(n_tot AS DOUBLE))
          - ((CAST(n_left AS DOUBLE)
              - CAST(sl2 AS DOUBLE) / CAST(n_left AS DOUBLE))
             + (CAST(n_right AS DOUBLE)
                - CAST(sr2 AS DOUBLE) / CAST(n_right AS DOUBLE))))
         / CAST(n_tot AS DOUBLE) AS gain
  FROM per JOIN parent ON parent.dim = per.dim
)"""
