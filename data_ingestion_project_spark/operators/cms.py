"""Count-Min sketch — the point-frequency member of the standing-sketch
family, next to the Misra-Gries frequent-items summaries
(operators/heavy_hitters.py), the KMV/theta distinct sketches and the
bottom-k quantile sketch (operators/quantile_sketch.py).

Where Misra-Gries answers "which items are frequent?" (identities, with
weights as LOWER bounds), the CMS answers the dual point query "how
often did THIS item occur?" for any item, with estimates that are UPPER
bounds: depth×width counter cells, each item incrementing one cell per
row (Cormode & Muthukrishnan 2005); a point estimate is the MIN over
its depth cells. Errors only ever ADD (hash collisions pile counts into
shared cells), so ``est >= true`` always, and
``Pr[est - true > 2n/width] <= (1/2)^depth`` under pairwise-independent
hashing — both properties pinned in pytest.

Why this shape at 100 TB: the sketch is a FIXED-SIZE (depth×width)
aggregate, partial-aggregatable (map-side combine collapses each
partition to at most depth×width cells before the shuffle) and
MERGEABLE by cellwise addition — per-day sketches roll up to any date
range with zero fact rescan, the same standing-aggregate posture as the
KMV/quantile sketches. NOTE the merge is ADDITIVE, not idempotent
(unlike the SET-semantics bottom-k folds), so incremental maintenance
MUST ride the fenced-batch machinery (operators/txn_table.fold_merge)
— a replayed batch would double-count.

Hashing is the repo's engine-portable md5-prefix bucket idiom
(functions/portable_hash.py), salted per depth row: the whole build /
estimate / merge pipeline is replayable as ANSI SQL, which is what lets
the census query (queries/documents.cms_word_freq) carry a VALUE-EXACT
DuckDB oracle rather than a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(item: Column, j: Column | int, width: int) -> Column:
    """Depth-row-salted md5 bucket: first 6 md5 hex chars of
    ``j || ':' || item`` as an integer, mod width (the
    functions/portable_hash.md5_bucket idiom; the ``j:`` salt makes the
    depth rows behave as independent hash functions).

    SQL mirror: CAST(concat('0x', substr(md5(j || ':' || item),1,6))
    AS BIGINT) % width
    """
    jc = F.lit(j) if isinstance(j, int) else j
    key = F.concat(jc.cast("string"), F.lit(":"), item.cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("long") % width


def cms_build(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Build the sketch as a (j, bucket, cnt) cell table — one row per
    NON-EMPTY cell (at most depth×width rows total, regardless of input
    size or key cardinality).

    Plan: a broadcast join against the depth-row ``range(depth)`` frame
    multiplies each item row by depth (row-local, no shuffle), then ONE
    aggregation with map-side combine — each partition ships at most
    depth×width partial cells into the single exchange. Compare
    ``groupBy(item)``: that shuffle is keyed on the full item universe
    (every distinct word of a 100 TB corpus); this one is keyed on 256
    fixed cells."""
    rows = F.broadcast(df.sparkSession.range(depth).select(F.col("id").alias("j")))
    return (
        df.select(F.col(item_col).cast("string").alias("__item"))
        .join(rows)
        .select("j", _bucket(F.col("__item"), F.col("j"), width).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_build_weighted(
    counted: DataFrame,
    item_col: str,
    weight_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Build the cell table from a PRE-COUNTED (item, weight) frame —
    cellwise identical to :func:`cms_build` over the expanded stream
    (each cell is a sum of the same weights), but the ×depth row
    multiply and the per-row md5 run over ITEM CARDINALITY rows
    instead of the raw stream: when the consumer already holds per-item
    counts (a word-frequency census does — it needs the exact counts
    for its own output), the sketch build is depth×|vocabulary| hash
    calls instead of depth×|corpus| (sf10 delta measured in
    BASELINE.md's r10 notes; the transient JVM peak collapses with the
    4× token-stream multiply).

    Trade (why cms_build keeps the stream path): on near-unique items
    (ids), |items| ≈ |rows|, so pre-counting adds a vocabulary-keyed
    shuffle for nothing — the stream path's one 256-cell exchange is
    strictly better there. Pick by item cardinality."""
    rows = F.broadcast(
        counted.sparkSession.range(depth).select(F.col("id").alias("j"))
    )
    return (
        counted.select(
            F.col(item_col).cast("string").alias("__item"),
            F.col(weight_col).alias("__w"),
        )
        .join(rows)
        .select("j", _bucket(F.col("__item"), F.col("j"), width).alias("bucket"), "__w")
        .groupBy("j", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_point_estimates(
    items: DataFrame,
    sketch: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-query a set of candidate items against the cell table:
    returns ``items`` plus an ``est`` column = min over the item's
    depth cells (missing cell ⇒ count 0 ⇒ estimate 0).

    The sketch side is depth×width rows — always broadcast; the probe
    is row-local against it, so estimating ANY candidate set costs one
    broadcast-join pass, no shuffle of the candidates."""
    rows = F.broadcast(items.sparkSession.range(depth).select(F.col("id").alias("j")))
    probes = items.join(rows).withColumn(
        "bucket", _bucket(F.col(item_col), F.col("j"), width)
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy(*items.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def update_cms_asset(
    spark,
    table_path: str,
    batch_df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 64,
    fence: tuple[str, int] | None = None,
) -> None:
    """Per-batch incremental maintenance of a standing CMS txn table:
    collapse the batch to its own ≤ depth×width cell sketch, then
    cellwise-ADD it via one keyed MERGE (``cnt = t.cnt + s.cnt``) on
    the synthetic cell id j·width + bucket.

    The additive merge is NOT idempotent (module docstring), so the
    ``(fence_id, batch_id)`` fence is mandatory under any at-least-once
    delivery (foreachBatch); txn_table.fold_merge records it atomically
    with the cell commit and makes a replayed batch a no-op. Shared by
    the streaming sink (streaming/ingest.start_cms_stream) and any
    batch backfill."""
    from data_ingestion_project_spark.operators import txn_table as T

    batch_sk = cms_build(batch_df, item_col, depth=depth, width=width).select(
        (F.col("j") * width + F.col("bucket")).alias("cell"), "j", "bucket", "cnt"
    )
    T.fold_merge(spark, table_path, batch_sk, "cell", {"cnt": "t.cnt + s.cnt"}, fence)
