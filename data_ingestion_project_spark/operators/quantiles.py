"""Distributed equal-frequency bucketing (scale-safe ntile).

``ntile(k)`` over an unpartitioned ``Window.orderBy`` funnels the whole
table through ONE task — the classic single-partition-sort scale
killer. This operator computes the *same* assignment (including
tiebreak columns) with a distributed two-pass plan:

1. Range-bucket rows by value using explicit cut-points from
   ``approxQuantile`` (a driver-side single pass). Explicit boundaries
   — not ``repartitionByRange`` — because the RangePartitioner's
   reservoir sampling is not guaranteed to pick identical boundaries
   across the two jobs that follow; an explicit boundary array is a
   pure function of the data. Boundary accuracy only affects load
   balance, never correctness: equal values always map to one bucket.
2. Rank locally inside each bucket (window partitioned by bucket id —
   parallel, no global sort), count rows per bucket (tiny driver
   collect, one row per bucket), convert local ranks to exact global
   ranks via cumulative offsets, and apply Spark's ntile split rule
   (first N % k buckets get ceil(N/k) rows).

Cost: one approxQuantile pass + one count pass + one ranking pass —
three scans instead of ntile's one, but every stage is parallel; at
100 TB three parallel scans beat one serial sort by orders of
magnitude. The driver state is O(n_buckets), not O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.materialize import pin


def _range_id_expr(bounds: list, value_col: str):
    """0-based range id from explicit boundary literals (empty bounds —
    a constant column — collapse to one range)."""
    if not bounds:
        return F.lit(0)
    barr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(barr, lambda b: b < F.col(value_col)))


def _rank_and_bucket(
    df: DataFrame,
    value_col: str,
    k: int,
    tiebreak_cols: list[str],
    out_col: str,
    rid_col: str,
    counts: dict[int, int],
) -> DataFrame:
    """Pass 3 of the distributed ntile: local rank inside each range +
    cumulative offset = exact global rank, then Spark's ntile split
    rule. Shared by the single- and multi-column forms."""
    total = sum(counts.values())
    offsets: dict[int, int] = {}
    acc = 0
    for rid in sorted(counts):
        offsets[rid] = acc
        acc += counts[rid]

    order = [F.col(value_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w = Window.partitionBy(rid_col).orderBy(*order)
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col(rid_col)
    )
    # long arithmetic: row_number() is int32 and the offset literals are
    # int-typed when small — at >2^31 rows the un-cast addition would
    # silently wrap in non-ANSI mode, in exactly the operator that
    # exists for that scale.
    r = (F.row_number().over(w).cast("long") + offset_expr.cast("long")).alias("__grank")

    # Spark ntile split: first m = N % k buckets take q+1 rows (q = N//k).
    q, m = divmod(total, k)
    head = m * (q + 1)
    grank = F.col("__grank")
    if q == 0:  # fewer rows than buckets: bucket == rank
        bucket = grank
    else:
        bucket = F.when(grank <= head, ((grank - 1) / (q + 1)).cast("long") + 1).otherwise(
            F.lit(m) + ((grank - head - 1) / q).cast("long") + 1
        )
    return (
        df.withColumn("__grank", r)
        .withColumn(out_col, bucket.cast("int"))
        .drop(rid_col, "__grank")
    )


def equal_frequency_buckets(
    df: DataFrame,
    value_col: str,
    k: int,
    tiebreak_cols: list[str] | None = None,
    out_col: str = "bucket",
    range_partitions: int = 32,
) -> DataFrame:
    """Attach a 1-based ``out_col`` equal to
    ``ntile(k) OVER (ORDER BY value_col, *tiebreak_cols)`` — computed
    without a single-partition window.

    Rows with NULL ``value_col`` are excluded (approxQuantile ignores
    them; an ntile twin must filter them identically).
    """
    tiebreak_cols = tiebreak_cols or []
    df = df.filter(F.col(value_col).isNotNull())

    # Pass 1: range boundaries. p-1 interior quantiles for p ranges;
    # accuracy only shapes balance (1e-3 keeps driver state tiny).
    probs = [i / range_partitions for i in range(1, range_partitions)]
    bounds = sorted(set(df.approxQuantile(value_col, probs, 0.001)))
    ranged = df.withColumn("__rid", _range_id_expr(bounds, value_col))

    # Pass 2: per-range counts → cumulative offsets (driver-side,
    # O(range_partitions) rows — metadata scale, not data scale).
    counts = {r["__rid"]: r["n"] for r in ranged.groupBy("__rid").agg(F.count(F.lit(1)).alias("n")).collect()}

    # Pass 3: local rank inside each range + offset = exact global rank.
    return _rank_and_bucket(ranged, value_col, k, tiebreak_cols, out_col, "__rid", counts)


def equal_frequency_buckets_multi(
    df: DataFrame,
    specs: list[tuple[str, int, list[str], str]],
    range_partitions: int = 32,
) -> DataFrame:
    """Several INDEPENDENT ntile assignments over one frame with the
    driver passes FOLDED (r13, guide §2.3): chained
    ``equal_frequency_buckets`` calls pay one approxQuantile job + one
    count-collect job PER column, each re-executing every previous
    call's ranking windows; this computes ALL columns' boundaries in
    ONE multi-column approxQuantile pass and ALL per-range counts in
    ONE exploded aggregation pass, then applies the shared
    rank-and-split tail per column.

    ``specs``: (value_col, k, tiebreak_cols, out_col) tuples.  Every
    value column must be non-NULL: the chained form's per-call NULL
    filtering is order-dependent, so a NULL value raises ValueError
    naming the column (counted in the count pass below — no extra job)
    instead of silently landing in bucket 1.  Callers like rfm_segments
    construct non-NULL dimensions.

    Exactness: identical assignment to the chained calls — range
    boundaries only shape load balance (equal values always land in
    one range, ranks are exact within ranges, offsets exact across
    them), and the same ntile split rule applies to the same exact
    global ranks.
    """
    probs = [i / range_partitions for i in range(1, range_partitions)]
    cols = [s[0] for s in specs]
    all_bounds = df.stat.approxQuantile(cols, probs, 0.001)  # ONE pass

    ranged = df
    rid_cols = []
    for (vc, _k, _tb, oc), bs in zip(specs, all_bounds):
        rid_col = f"__rid_{oc}"
        ranged = ranged.withColumn(rid_col, _range_id_expr(sorted(set(bs)), vc))
        rid_cols.append(rid_col)

    # ONE count pass for every column: explode (dim, rid) pairs — the
    # shuffle is dims × range_partitions cells after map-side combine;
    # a NULL value counts in its dim's NULL rid cell
    pairs = ranged.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        F.when(F.col(vc).isNotNull(), F.col(rc)).alias("rid"),
                    )
                    for i, (rc, (vc, *_)) in enumerate(zip(rid_cols, specs))
                ]
            )
        ).alias("e")
    )
    cell_rows = (
        pairs.groupBy(F.col("e.d").alias("d"), F.col("e.rid").alias("rid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_dim_counts: list[dict[int, int]] = [dict() for _ in specs]
    for row in cell_rows:
        if row["rid"] is None:
            raise ValueError(
                f"equal_frequency_buckets_multi: value column {specs[row['d']][0]!r} "
                f"has {row['n']} NULL rows; filter or fill them first"
            )
        per_dim_counts[row["d"]][row["rid"]] = row["n"]

    out = ranged
    for (vc, k, tiebreaks, oc), rid_col, counts in zip(
        specs, rid_cols, per_dim_counts
    ):
        out = _rank_and_bucket(out, vc, k, tiebreaks or [], oc, rid_col, counts)
    return out


def exact_median(
    df: DataFrame,
    value_col: str,
    bucket_width: int | None = None,
) -> DataFrame:
    """Exact interpolated median of an INTEGER column as a 1-row frame
    ``(n, median)`` — the distributed twin of ``F.median`` for frames
    too large to funnel through its single merged aggregation buffer
    (measured: 8.4 s for one global median over 2.9 M longs vs ~1 s
    for this plan at the same scale).

    Plan (r12, third form): NO per-value grouping at all.  The first
    form grouped by value and rank-windowed the whole distinct-value
    frame; on a mostly-distinct input (theil_sen's 2.89 M slopes) that
    partial aggregation is pure overhead — every hash probe misses, a
    row-scale hash table builds per task, and a row-scale frame
    shuffles (measured 74.7 s executorRunTime in the feeding stage,
    2/3 of it hash-agg overhead above the join's own cost).  Instead:

    1. one scalar agg (min/max/count — three accumulators, no hash),
       materialized once (1 row) because width and ranks both read it;
    2. one LOW-cardinality bucket-count agg — width is derived from
       the observed range so the bucket count is hard-capped at 4096
       for ANY value domain (``bucket_width`` overrides for tests);
       map-side combine collapses it to ≤4096 cells per task;
    3. an exclusive prefix over the ≤4096 bucket partials locates the
       ≤2 TARGET buckets holding the middle order statistics;
    4. one filter pass keeps only target-bucket rows (~n/4096),
       grouped by value and rank-windowed inside the target buckets
       only; the two picks' mean is ``F.median``'s interpolation
       exactly.

    Three passes over ``df`` — callers whose input is expensive to
    recompute (a pair join) should ``localCheckpoint`` it IF it is
    bounded (theil_sen's slope frame is calendar²-bounded).  Returns
    one all-NULL row (not an empty frame) on empty input — no caller
    feeds it an empty frame.  NULL values are not supported (no caller
    produces them; the guard in theil_sen is value-determined).
    """
    v = F.col(value_col)
    stats = pin(df.agg(
        F.min(v).alias("__mn"),
        F.max(v).alias("__mx"),
        F.count(F.lit(1)).alias("n"),
    ))
    if bucket_width is None:
        width = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(
                (F.col("__mx").cast("double") - F.col("__mn").cast("double") + 1)
                / F.lit(4096.0)
            ).cast("long"),
        )
    else:
        width = F.lit(bucket_width).cast("long")
    wdf = stats.select(width.alias("__w"))
    bp = (
        df.crossJoin(F.broadcast(wdf))
        .groupBy(F.floor(v / F.col("__w")).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__bc"))
    )
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bp.select(
        "__b", "__bc", F.coalesce(F.sum("__bc").over(wb), F.lit(0)).alias("__p")
    )
    ranks = stats.select(
        "n",
        ((F.col("n") + 1) / 2).cast("long").alias("__lo"),
        ((F.col("n") + 2) / 2).cast("long").alias("__hi"),
    )
    tb = (
        prefix.crossJoin(F.broadcast(ranks))
        .filter(
            (
                (F.col("__p") < F.col("__lo"))
                & (F.col("__lo") <= F.col("__p") + F.col("__bc"))
            )
            | (
                (F.col("__p") < F.col("__hi"))
                & (F.col("__hi") <= F.col("__p") + F.col("__bc"))
            )
        )
        .select("__b", "__p")
    )
    cand = (
        df.crossJoin(F.broadcast(wdf))
        .join(F.broadcast(tb), F.floor(v / F.col("__w")) == F.col("__b"))
        .groupBy("__b", "__p", v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wv = (
        Window.partitionBy("__b")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cand.select(
        "__v",
        "__c",
        (F.col("__p") + F.sum("__c").over(wv)).alias("__cum"),
    )
    # both order statistics picked in ONE pass over the candidate rows
    picked = cum.crossJoin(F.broadcast(ranks))
    return picked.agg(
        F.max("n").alias("n"),
        (
            (
                F.max(
                    F.when(
                        (F.col("__cum") >= F.col("__lo"))
                        & (F.col("__cum") - F.col("__c") < F.col("__lo")),
                        F.col("__v"),
                    )
                ).cast("double")
                + F.max(
                    F.when(
                        (F.col("__cum") >= F.col("__hi"))
                        & (F.col("__cum") - F.col("__c") < F.col("__hi")),
                        F.col("__v"),
                    )
                ).cast("double")
            )
            / F.lit(2.0)
        ).alias("median"),
    )


def rank2_map(
    df: DataFrame,
    value_col: str,
    bucket_width: int = 1_000_000,
    count_col: str | None = None,
) -> DataFrame:
    """DOUBLED average (mid) ranks per distinct value of an INTEGER
    column — the exact tie-handling rank primitive under rank-based
    statistics (Spearman's rho, the Mann-Whitney U): returns one row
    per distinct value with ``(value, cnt, r2)`` where

        r2 = 2 * average_rank(value)
           = 2 * (#strictly smaller) + cnt(value) + 1

    kept DOUBLED so it stays an exact INTEGER through ties (an average
    rank is a .5 at every even tie group — doubling removes the only
    fraction the definition produces, the same trick as the doubled
    median order statistics in :func:`exact_median`).

    Same two-level plan shape as exact_median — per-value counts (one
    map-side-combined shuffle), an exclusive prefix over the
    BUCKET-partials frame (value-domain-sized), a bucket-partitioned
    cumulative window — so nothing row-count-sized ever crosses one
    task, and the map is O(distinct values) to join back wherever the
    consumer needs per-row ranks.

    ``count_col`` (r12): rank a PRE-AGGREGATED ``(value, count)`` frame
    — the ranks of the multiset in which each value appears
    ``count_col`` times, identical to ranking the exploded rows.  Lets
    a caller that already holds a frequency table (e.g. spearman's
    joint ``(q, p, c)`` frame) derive its rank maps without a second
    pass over the fact table."""
    agg = (
        F.sum(count_col).alias("__c")
        if count_col is not None
        else F.count(F.lit(1)).alias("__c")
    )
    vc = pin(
        df.groupBy(F.col(value_col).alias("__v"))
        .agg(agg)
        .withColumn("__b", F.floor(F.col("__v") / F.lit(bucket_width)))
    )
    bp = vc.groupBy("__b").agg(F.sum("__c").alias("__bc"))
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bp.select(
        "__b", F.coalesce(F.sum("__bc").over(wb), F.lit(0)).alias("__p")
    )
    wv = (
        Window.partitionBy("__b")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return vc.join(F.broadcast(prefix), "__b").select(
        F.col("__v").alias(value_col),
        F.col("__c").alias("cnt"),
        (
            2 * (F.col("__p") + F.coalesce(F.sum("__c").over(wv), F.lit(0)))
            + F.col("__c")
            + 1
        ).alias("r2"),
    )
