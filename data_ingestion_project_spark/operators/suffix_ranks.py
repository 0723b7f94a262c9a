"""Distributed suffix ranks by prefix doubling — the EXACT
substring-duplication machinery that certifies the gram census.

``substring_dup_stats`` (queries/documents.py) is the production-shape
census: it decides "this position starts a duplicated 8-token run" by
hashing fixed 8-grams.  This module computes the same predicate — and
the length of the longest repeated token run, which fixed grams cannot
see — from first principles with suffix ranks (Manber-Myers prefix
doubling, the standard distributed suffix-array construction: log(cap)
rounds of sort+join over fixed-width integer keys, the same bounded-
round posture as the connected-components and k-core operators).

Scale design, in order of what matters at 100 TB:
- **No global windows.**  Rank assignment is order-preserving
  numbering via range partitioning + per-partition row numbers + a
  partition-count-sized offset table (``order_rank``); the only
  windows are partitioned by shuffle partition id or run over the
  ~32-row partition-count frame.
- **Fixed-width shuffles.**  Every doubling round shuffles (pos,
  rank) integer pairs — never token text.  A truncated-suffix sort
  (the DuckDB oracle's formulation) ships cap× the corpus bytes
  through the sort; ranks ship 16 bytes a row regardless of cap.
- **Bounded rounds.**  The repeat-length cap (default 64 tokens)
  bounds the doubling at log2(cap) rounds and the LCP descent at
  log2(cap) joins — corpus-size-independent round counts.
- **Position arithmetic instead of concatenation.**  Global position
  = doc_id·stride + doc_pos with stride > maxlen + cap: next-block
  lookups (pos+k) stay inside the document's private block, and a
  missing row (past doc end) contributes a per-position-unique
  sentinel, so truncated suffixes never collide — no separator
  tokens, no corpus-order dependence, no offset prefix-scan.

LCP semantics: for each position, ``best_lcp`` = length (in tokens,
capped) of the longest prefix its suffix shares with ANY other
suffix in the corpus.  Computed as max of the LCPs with the two
neighbors in suffix-rank order — exact because every set of suffixes
sharing a prefix is contiguous in that order (the grouping property
holds for rank ordering with shortest-first sentinels, matching the
elementwise list order the DuckDB oracle sorts by)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.materialize import pin

# cap must be a power of two: the doubling ladder ends exactly on it
DEFAULT_CAP = 64

# Rank-shuffle width — THE per-task memory valve for this operator
# (VERDICT r10 ask #4).  Every doubling round range-partitions the
# (pos, rank) frame into this many sort buffers, so per-task peak
# memory is ~ positions/width × the fixed row width: holding width
# proportional to corpus positions holds per-task memory FLAT (the
# sum across tasks — MEMORY_HIGHWATER's 154 GB summed-stage row at
# sf10 — is partition-count-invariant; what the width buys is the
# per-EXECUTOR residency, which in local[32] is 32 concurrent
# buffers).  Budget formula (BASELINE.md r11 note): width ≥
# positions × 16 B × sort_overhead(≈4×) / target_task_mem; the
# default 32 sizes sf1 (≈6 M positions) at ~250 MB/task.  Env
# override SPARK_GRAFT_SUFFIX_PARTS is how the sf10 mitigation row
# was measured (width 128 → per-task slices 4× thinner).
_NUM_RANGE_PARTS = int(os.environ.get("SPARK_GRAFT_SUFFIX_PARTS", "32"))


def order_rank(df: DataFrame, cols: list[str], out: str) -> DataFrame:
    """Append an order-preserving, equality-preserving integer rank for
    the tuple ``cols`` — a distributed ``dense_rank()`` with NO
    unpartitioned window and ONE data shuffle: range-partition on the
    key (equal keys co-locate by construction of range partitioning),
    dense-rank locally per partition, then lift by cumulative
    per-partition DISTINCT counts (a ≤``_NUM_RANGE_PARTS``-row frame).
    The earlier formulation collapsed ties with an extra
    groupBy+join (3 shuffles per call); local dense_rank makes tie
    collapse free, which matters ×13 across the doubling ladder.

    The (pid, local) frame is MATERIALIZED (localCheckpoint) before
    the offset branch reads it: pid and local rank depend on the
    physical partitioning, and the offset aggregation re-executing
    the range exchange independently (no exchange reuse under AQE,
    nondeterministic upstream partitioning) would pair one run's
    offsets with another run's locals — observed as cross-partition
    rank collisions before this pin."""
    d = df.repartitionByRange(_NUM_RANGE_PARTS, *[F.col(c) for c in cols])
    d = d.withColumn("__pid", F.spark_partition_id())
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in cols])
    d = pin(d.withColumn("__local", F.dense_rank().over(w)))
    counts = d.groupBy("__pid").agg(F.max("__local").alias("__cnt"))
    # partition-count-sized window (≤ _NUM_RANGE_PARTS rows) — bounded
    # by the shuffle layout, not the data
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias("__off")
    )
    return (
        d.join(F.broadcast(offs), "__pid")
        .withColumn(out, F.col("__local") + F.col("__off"))
        .drop("__pid", "__local")
    )


def suffix_rank_tables(
    spark: SparkSession,
    docs: DataFrame,
    cap: int = DEFAULT_CAP,
) -> tuple[dict[int, DataFrame], DataFrame]:
    """Prefix-doubling ladder over the tokenized corpus.

    ``docs``: (doc_id long, lang string, ts array<string>).

    Returns ``(ranks, meta)`` where ``ranks[p]`` is (pos, rank) with
    equal ranks ⟺ equal p-token prefixes (order-preserving), for every
    power of two p ≤ cap, and ``meta`` is (pos, doc_id, doc_pos, lang,
    n_remaining) with n_remaining = real tokens from this position to
    doc end and doc_pos the 0-based token offset (extraction queries
    map a winning position back to its document through these).
    Each level is localCheckpoint'ed: the ladder is reused by the LCP
    descent and an un-truncated lineage would re-execute it
    exponentially."""
    if cap & (cap - 1):
        raise ValueError(f"cap must be a power of two, got {cap}")
    lens = docs.select(F.size("ts").alias("n"))
    maxlen = lens.agg(F.max("n")).first()[0] or 0  # scalar agg, driver-side int
    stride = maxlen + cap + 2
    positions = docs.select(
        "doc_id",
        "lang",
        F.size("ts").alias("__len"),
        F.posexplode("ts").alias("__i", "token"),
    ).select(
        (F.col("doc_id") * stride + F.col("__i")).alias("pos"),
        "doc_id",
        F.col("__i").alias("doc_pos"),
        "lang",
        (F.col("__len") - F.col("__i")).alias("n_remaining"),
        "token",
    )
    meta = pin(positions.select("pos", "doc_id", "doc_pos", "lang", "n_remaining"))

    cur = order_rank(positions.select("pos", "token"), ["token"], "rank").select(
        "pos", "rank"
    )
    cur = pin(cur)
    ranks: dict[int, DataFrame] = {1: cur}
    k = 1
    while k < cap:
        shifted = cur.select((F.col("pos") - k).alias("pos"), F.col("rank").alias("__r2"))
        paired = cur.join(shifted, "pos", "left").select(
            "pos",
            "rank",
            # sentinel −pos−1: unique per position ⇒ truncated suffixes
            # never equate with anything (strictly negative, real ranks
            # are ≥ 1)
            F.coalesce(F.col("__r2"), -F.col("pos") - 1).alias("__r2"),
        )
        cur = order_rank(paired, ["rank", "__r2"], "__nr").select(
            "pos", F.col("__nr").alias("rank")
        )
        cur = pin(cur)
        k *= 2
        ranks[k] = cur
    return ranks, meta


def best_lcp_per_position(
    spark: SparkSession,
    ranks: dict[int, DataFrame],
    cap: int = DEFAULT_CAP,
) -> DataFrame:
    """(pos, best_lcp): for every corpus position, the capped length of
    the longest token prefix its suffix shares with any other suffix.

    Suffix order = order of ranks[cap] (ties broken by pos — tied
    positions share the full capped prefix, so their relative order is
    irrelevant).  Adjacency via the same two-level numbering, then the
    LCP of each adjacent pair by descending-power rank comparison:
    start at the capped level (equal ⇒ lcp = cap), otherwise add each
    power p where the p-ranks at offset lcp agree — log2(cap) joins,
    each on integer keys."""
    top = ranks[cap]
    numbered = order_rank(top, ["rank", "pos"], "rn").select("rn", "pos", "rank")
    nxt = numbered.select(
        (F.col("rn") - 1).alias("rn"),
        F.col("pos").alias("pos_b"),
        F.col("rank").alias("rank_b"),
    )
    pairs = (
        numbered.join(nxt, "rn")
        .select(
            "rn",
            F.col("pos").alias("pos_a"),
            "pos_b",
            (F.col("rank") == F.col("rank_b")).alias("__eq_cap"),
        )
        .withColumn("lcp", F.when(F.col("__eq_cap"), F.lit(cap)).otherwise(F.lit(0)))
    )
    p = cap // 2
    while p >= 1:
        rp = ranks[p]
        a = rp.select(F.col("pos").alias("__pa"), F.col("rank").alias("__ra"))
        b = rp.select(F.col("pos").alias("__pb"), F.col("rank").alias("__rb"))
        pairs = (
            pairs.join(a, pairs["pos_a"] + pairs["lcp"] == a["__pa"], "left")
            .join(b, pairs["pos_b"] + pairs["lcp"] == b["__pb"], "left")
            .withColumn(
                "lcp",
                F.when(
                    ~F.col("__eq_cap")
                    & F.col("__ra").isNotNull()
                    & (F.col("__ra") == F.col("__rb")),
                    F.col("lcp") + p,
                ).otherwise(F.col("lcp")),
            )
            .drop("__pa", "__ra", "__pb", "__rb")
        )
        p //= 2
    pairs = pin(pairs.select("rn", "pos_a", "pos_b", "lcp"))
    # a position's best lcp = max(lcp with previous, with next neighbor)
    with_next = pairs.select(F.col("pos_a").alias("pos"), F.col("lcp").alias("__l1"))
    with_prev = pairs.select(F.col("pos_b").alias("pos"), F.col("lcp").alias("__l2"))
    return (
        with_next.join(with_prev, "pos", "full")
        .select(
            "pos",
            F.greatest(
                F.coalesce("__l1", F.lit(0)), F.coalesce("__l2", F.lit(0))
            ).alias("best_lcp"),
        )
    )
