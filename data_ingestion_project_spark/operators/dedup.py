"""Deduplication family for document tables (LLM-training-data path).

Exact → fingerprint groupBy; near-dup → MinHash/LSH, SimHash, word-set
Jaccard, embedding cosine. Each variant trades recall for cost; the
shared design rule is **candidate generation must be an equi-join**
(bucket/band/signature), never a cross join — that is what survives
100 TB.

Determinism: every hash here is derived from md5/xxhash64 of content
with fixed seeds, so results are stable across runs, executors, and
partitionings (required for the correctness oracle and for reproducible
data curation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_ingestion_project_spark.functions.text import fingerprint, normalize_text
from data_ingestion_project_spark.operators.materialize import pin


# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row per normalized-content fingerprint.

    Keep-FIRST by ``id_col`` (deterministic), generalizing the
    reference's keep-first uuid dedup (io_utils.py:34 in
    /root/reference) to content addressing. One shuffle on the
    fingerprint; at 100 TB this is the cheapest dedup pass and always
    runs before any fuzzy pass to shrink the candidate set.
    """
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def exact_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All (a, b) id pairs (a < b) with identical normalized content."""
    keyed = df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.fp").alias("fp"),
        )
    )


def substitution_block_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_a: str = "id_a",
    out_b: str = "id_b",
) -> DataFrame:
    """All (a, b) pairs (a < b) of EQUAL-LENGTH strings with
    levenshtein distance <= 1, via exact equi-join blocking.

    For equal-length strings, levenshtein <= 1 means "differ in at most
    one position" (an insert must pair with a delete, costing 2). So
    each string is exploded into L wildcard variants — position i
    blanked out, key = (i, prefix, suffix) — and two strings are within
    distance 1 **iff they share a variant key**. Candidate generation is
    therefore exact (100% recall, no false positives beyond separator
    collisions, removed by the levenshtein rescore) and is a plain
    equi-join: one shuffle on the variant key, never a cross join.

    Cost: L rows per input row (L = string length) into one shuffle —
    linear in data size, vs the O(n^2) cross product that naive blocking
    (e.g. on length alone) degenerates to when lengths are uniform.
    Identical strings share all L variants; dropDuplicates on the id
    pair collapses them before rescoring.
    """
    s = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    # greatest(len, 1): sequence(1, 0) would step DOWNWARD ([1, 0]) for
    # empty strings. The length rides in the key because out-of-range
    # substrings collapse to '' — without it, ''@i=1 and 'x'@i=1 share
    # (prefix='', suffix='') and an unequal-length pair would leak
    # through the equal-length contract.
    v = s.select(
        "__id",
        "__t",
        F.explode(F.sequence(F.lit(1), F.greatest(F.length("__t"), F.lit(1)))).alias("__i"),
    ).select(
        "__id",
        "__t",
        F.concat_ws(
            "\x01",
            F.length("__t").cast("string"),
            F.col("__i").cast("string"),
            F.expr("substring(__t, 1, __i - 1)"),
            F.expr("substring(__t, __i + 1)"),
        ).alias("__key"),
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = (
        a.join(b, (F.col("a.__key") == F.col("b.__key")) & (F.col("a.__id") < F.col("b.__id")))
        .select(
            F.col("a.__id").alias(out_a),
            F.col("a.__t").alias("__ta"),
            F.col("b.__id").alias(out_b),
            F.col("b.__t").alias("__tb"),
        )
        .dropDuplicates([out_a, out_b])
    )
    return (
        pairs.withColumn("dist", F.levenshtein("__ta", "__tb"))
        .filter(F.col("dist") <= 1)
        .drop("__ta", "__tb")
    )


# ----------------------------------------------------- word-set Jaccard


def tokenized(
    df: DataFrame, text_col: str, id_col: str, shingle: int | None = None
) -> DataFrame:
    """(id, word) rows of distinct normalized tokens — the inverted index.

    ``shingle=k`` switches to character k-grams of the normalized text
    instead of whitespace words — the right unit for scripts without
    word boundaries (CJK) and for catching small intra-word edits.
    Shingling is a pure JVM expression (sequence + substring), no UDF.
    """
    norm = normalize_text(text_col)
    if shingle is None:
        tokens = F.split(norm, r"\s+")
    else:
        starts = F.sequence(F.lit(1), F.greatest(F.length(norm) - (shingle - 1), F.lit(1)))
        tokens = F.transform(starts, lambda i: F.substring(norm, i, F.lit(shingle)))
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens)).alias("word"),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.0,
    max_word_doc_freq: int | None = None,
    shingle: int | None = None,
) -> DataFrame:
    """Exact word-set Jaccard for all candidate pairs via inverted index.

    Candidate pairs come from the self-equi-join of the (id, word)
    inverted index — pairs sharing zero words are never materialized.
    ``max_word_doc_freq`` drops ultra-common words BEFORE the join
    (classic posting-list pruning; at scale a word that appears in 10%
    of all docs generates a near-cross-join and adds no discriminative
    signal). With pruning active, both intersections AND set sizes are
    computed over the same pruned vocabulary, so the result is the
    exact Jaccard of the pruned word sets — never a mixed-denominator
    underestimate.
    """
    index = tokenized(df, text_col, id_col, shingle=shingle)
    if max_word_doc_freq is not None:
        doc_freq = index.groupBy("word").agg(F.count("*").alias("df"))
        # no broadcast hint: after pruning, the remaining (rare-word)
        # vocabulary is the LARGE side at corpus scale — AQE broadcasts
        # it only while it actually fits
        index = index.join(
            doc_freq.filter(F.col("df") <= max_word_doc_freq), "word"
        ).select(id_col, "word")
    sizes = index.groupBy(id_col).agg(F.count("*").alias("set_size"))

    a, b = index.alias("a"), index.alias("b")
    inter = (
        a.join(b, (F.col("a.word") == F.col("b.word")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
    shingle: int | None = None,
) -> DataFrame:
    """EXACT word-set Jaccard >= threshold pairs via PREFIX FILTERING
    (SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al.
    WWW'08): the principled no-recall-loss scale path, complementing
    ``jaccard_pairs``' posting-list cap (which is exact only over the
    PRUNED vocabulary) and the probabilistic MinHash bands.

    Theorem: order every document's tokens by one global canonical
    order (here: ascending document frequency, rarest first, word-asc
    tie-break) and keep each doc's first |x| - ceil(t·|x|) + 1 tokens
    (its PREFIX). Any pair with Jaccard >= t MUST share at least one
    prefix token — so the equi-join of PREFIXES generates a complete
    candidate set while joining only the rarest slice of each posting
    list. A length filter (t·|x| <= |y| <= |x|/t, a join predicate)
    discards size-incompatible candidates before verification; exact
    verification rescored over the full word sets makes the output
    value-identical to the unfiltered quadratic join.

    Scale shape: df-ranking is one window over the (id, word) index;
    the candidate join's cost tracks RARE-token posting lists (on a
    Zipfian vocabulary the prefix skips exactly the head words that
    make the naive join quadratic — candidate reduction is pinned in
    pytest). Float guards: ceil/multiply comparisons carry a 1e-9
    slack so binary-float threshold representation can only ADD
    candidates, never drop a boundary pair.

    NOTE on the synthetic corpus: its 31-word near-uniform vocabulary
    has no rare tokens, so prefix filtering degenerates there (as any
    df-based method must — measured, which is why the corpus QUERY
    stays bench-excluded like its quadratic twin); the operator's win
    requires the Zipfian shape real corpora have.
    """
    if not (0.0 < min_jaccard <= 1.0):
        raise ValueError(f"min_jaccard must be in (0, 1], got {min_jaccard}")
    words = tokenized(df, text_col, id_col, shingle=shingle)
    cand = jaccard_prefix_candidates(words, min_jaccard, id_col=id_col)
    word_sets = words.groupBy(id_col).agg(F.collect_set("word").alias("words"))
    wa = word_sets.select(F.col(id_col).alias("id_a"), F.col("words").alias("wa"))
    wb = word_sets.select(F.col(id_col).alias("id_b"), F.col("words").alias("wb"))
    n_common = F.size(F.array_intersect("wa", "wb"))
    return (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .withColumn(
            "jaccard",
            n_common / (F.size("wa") + F.size("wb") - n_common),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_prefix_candidates(
    words: DataFrame,
    min_jaccard: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Complete candidate (id_a, id_b) set for Jaccard >= threshold
    from an (id, word) inverted index, by prefix filtering + length
    filter (see jaccard_pairs_prefix). Exposed separately so the
    candidate-reduction property is directly testable."""
    t = float(min_jaccard)
    doc_freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("df_w"))
    ranked = words.join(doc_freq, "word")
    wp = Window.partitionBy(id_col)
    pos = F.row_number().over(wp.orderBy(F.col("df_w").asc(), F.col("word").asc()))
    size = F.count(F.lit(1)).over(wp)
    marked = ranked.select(
        id_col, "word", pos.alias("pos"), size.alias("set_size")
    )
    prefix_len = (
        F.col("set_size") - F.ceil(F.lit(t) * F.col("set_size") - F.lit(1e-9)) + 1
    )
    prefix = marked.filter(F.col("pos") <= prefix_len).select(
        id_col, "word", "set_size"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("b.set_size") >= F.lit(t) * F.col("a.set_size") - F.lit(1e-9))
            & (F.col("a.set_size") >= F.lit(t) * F.col("b.set_size") - F.lit(1e-9)),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


# --------------------------- small-dictionary bitmask Jaccard (r12)
#
# When the global token dictionary fits a machine word (≤ 64 distinct
# tokens), a document's word SET is one 64-bit mask and exact Jaccard
# collapses to popcounts: J(A, B) = bit_count(mA & mB) /
# bit_count(mA | mB).  Grouping documents by mask makes the all-pairs
# problem (distinct masks)²-sized — a DICTIONARY-bounded quantity,
# independent of corpus volume — with one linear shuffle to build the
# mask groups.  This is the exact-Jaccard twin of the breusch_pagan
# cardinality gate: the inverted-index join is the Zipfian-corpus
# plan; on a degenerate tiny-dictionary corpus (where every posting
# list is the whole corpus and the index join IS a cross join) the
# mask plan is the one that survives scale.  Gated by a LIMIT-bounded
# dictionary probe, so Zipfian corpora never pay for it.

_MASK_DICT_CAP = 64


def small_dict_vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int | None = None,
) -> list[str] | None:
    """The sorted global token dictionary if it fits a machine word
    (≤ 64 tokens), else None.  The probe collects at most cap+1 rows
    (LIMIT-bounded — never the vocabulary of a real corpus)."""
    index = tokenized(df, text_col, id_col, shingle=shingle)
    words = [
        r["word"]
        for r in index.select("word").distinct().limit(_MASK_DICT_CAP + 1).collect()
    ]
    if len(words) > _MASK_DICT_CAP:
        return None
    return sorted(words)


def wordset_mask_groups(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int | None = None,
) -> DataFrame:
    """(mask, cnt, ids) — one row per DISTINCT word-set bitmask, with
    the sorted id list of the documents sharing it.  ``vocab`` is the
    ≤64-token dictionary from :func:`small_dict_vocab` (bit i = the
    i-th token in sorted order; identical across engines)."""
    if len(vocab) > _MASK_DICT_CAP:
        raise ValueError(f"dictionary exceeds {_MASK_DICT_CAP} tokens")
    index = tokenized(df, text_col, id_col, shingle=shingle)
    bits = index.sparkSession.createDataFrame(
        [(w, i) for i, w in enumerate(vocab)], "word string, bit int"
    )
    masks = (
        index.join(F.broadcast(bits), "word")
        .groupBy(id_col)
        # tokens are distinct per doc, so the bit terms are distinct
        # powers of two and SUM == bitwise OR (stays exact in long)
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("mask"))
    )
    return masks.groupBy("mask").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sort_array(F.collect_list(id_col)).alias("ids"),
    )


def _mask_cross_pairs(groups: DataFrame) -> DataFrame:
    """All unordered DISTINCT-mask pairs with their exact Jaccard and
    doc-pair multiplicity: (ma, mb, jaccard, mult).  The join is a
    broadcast nested-loop over the dictionary-bounded mask frame —
    (distinct masks)² pairs regardless of corpus size — kept NARROW
    (4 longs + the popcount ratio; id lists are re-joined only for
    the ≤-tie-bundle that ever gets expanded)."""
    a = groups.select(F.col("mask").alias("ma"), F.col("cnt").alias("ca"))
    b = groups.select(F.col("mask").alias("mb"), F.col("cnt").alias("cb"))
    inter = F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))
    union = F.bit_count(F.col("ma").bitwiseOR(F.col("mb")))
    return (
        a.join(F.broadcast(b), F.col("ma") < F.col("mb"))
        .select(
            "ma",
            "mb",
            # same int/int → double division the inverted-index path
            # and the oracle's  n_common * 1.0 / (sa+sb-n_common)  do
            (inter / union).alias("jaccard"),
            (F.col("ca") * F.col("cb")).cast("long").alias("mult"),
        )
    )


def _same_mask_pairs(groups: DataFrame) -> DataFrame:
    """Same-mask groups as jaccard-1.0 pair bundles: (ids, jaccard=1.0,
    mult=C(cnt,2)) for every mask shared by ≥ 2 documents."""
    g = groups.filter(F.col("cnt") >= 2)
    return g.select(
        "ids",
        F.lit(1.0).alias("jaccard"),
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("mult"),
    )


def _expand_cross(bundle: DataFrame, groups: DataFrame) -> DataFrame:
    """(ma, mb, jaccard) bundles → (id_a, id_b, jaccard) doc pairs,
    id_a < id_b; id lists join in AFTER the bundle was filtered, so
    arrays never ride through the M² frame."""
    ga = groups.select(F.col("mask").alias("ma"), F.col("ids").alias("ids_a"))
    gb = groups.select(F.col("mask").alias("mb"), F.col("ids").alias("ids_b"))
    e = (
        bundle.join(F.broadcast(ga), "ma")
        .join(F.broadcast(gb), "mb")
        .select("jaccard", F.explode("ids_a").alias("x"), F.col("ids_b"))
        .select("jaccard", "x", F.explode("ids_b").alias("y"))
    )
    return e.select(
        F.least("x", "y").alias("id_a"),
        F.greatest("x", "y").alias("id_b"),
        "jaccard",
    )


def _expand_same(bundle: DataFrame) -> DataFrame:
    """(ids, jaccard) same-mask bundles → within-group (id_a, id_b,
    jaccard) pairs via the sorted-array posting expansion (each pair
    emitted exactly once, O(output))."""
    n = F.size("ids")
    pairs = bundle.select(
        "jaccard",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.transform(
                        F.slice(F.col("ids"), i + 1, n),
                        lambda y: F.struct(
                            F.element_at("ids", i).alias("id_a"), y.alias("id_b")
                        ),
                    ),
                )
            )
        ).alias("p"),
    )
    return pairs.select(F.col("p.id_a"), F.col("p.id_b"), "jaccard")


def jaccard_topk_smalldict(
    df: DataFrame,
    vocab: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact global top-k most-similar pairs under a ≤64-token
    dictionary, value-identical to ``jaccard_pairs`` + top-k but never
    materializing the quadratic DOC-pair frame: mask pairs are scored
    at (distinct masks)² cost, the k-th doc-pair jaccard is found on a
    VALUE-DOMAIN-sized histogram (distinct jaccard values under a
    64-token dictionary are rationals p/q with q ≤ 128 — ≤ a few
    thousand, corpus-independent; collected driver-side under the
    bounded-collect doctrine), and only the pairs at-or-above that
    threshold are expanded to doc ids (≥-threshold tie explosion
    only)."""
    groups = wordset_mask_groups(df, vocab, text_col=text_col, id_col=id_col)
    groups = pin(groups)
    cross = _mask_cross_pairs(groups)
    same = _same_mask_pairs(groups)
    meta = cross.select("jaccard", "mult").unionByName(
        same.select("jaccard", "mult")
    )
    hist = (
        meta.groupBy("jaccard").agg(F.sum("mult").alias("m")).collect()
    )  # value-domain-bounded (≤ ~#distinct rationals)
    hist.sort(key=lambda r: -r["jaccard"])
    cum, thr = 0, None
    for r in hist:
        cum += r["m"]
        if cum >= k:
            thr = r["jaccard"]
            break
    if thr is None:  # fewer than k pairs exist in total
        thr = hist[-1]["jaccard"] if hist else 1.0
    top = _expand_cross(cross.filter(F.col("jaccard") >= thr), groups).unionByName(
        _expand_same(same.filter(F.col("jaccard") >= thr))
    )
    return (
        top.orderBy(F.col("jaccard").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(k)
    )


def jaccard_threshold_counts_smalldict(
    df: DataFrame,
    vocab: list[str],
    thresholds: tuple[float, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(threshold, n_pairs, n_docs) operating-curve counts under a
    ≤64-token dictionary — value-identical to sweeping the exact
    doc-pair frame, computed ENTIRELY at mask level: pair counts are
    conditional sums of multiplicities; doc counts sum group sizes of
    masks whose best pair clears the threshold.  No doc-pair frame is
    ever materialized."""
    groups = wordset_mask_groups(df, vocab, text_col=text_col, id_col=id_col)
    groups = pin(groups)
    cross = _mask_cross_pairs(groups).withColumnRenamed("jaccard", "j")
    # per-mask best cross-pair jaccard (symmetrized), for n_docs
    best = (
        cross.select(F.col("ma").alias("mask"), F.col("j"))
        .unionByName(cross.select(F.col("mb").alias("mask"), F.col("j")))
        .groupBy("mask")
        .agg(F.max("j").alias("best_j"))
    )
    per_mask = groups.join(best, "mask", "left").select(
        "cnt",
        # a mask shared by ≥2 docs pairs with itself at jaccard 1.0,
        # which clears every threshold ≤ 1.0
        F.greatest(
            F.when(F.col("cnt") >= 2, F.lit(1.0)).otherwise(F.lit(-1.0)),
            F.coalesce("best_j", F.lit(-1.0)),
        ).alias("best_j"),
    )
    pair_aggs, doc_aggs = [], []
    for i, t in enumerate(thresholds):
        pair_aggs.append(
            F.sum(F.when(F.col("j") >= F.lit(t), F.col("mult")).otherwise(F.lit(0)))
            .alias(f"p{i}")
        )
        doc_aggs.append(
            F.sum(
                F.when(F.col("best_j") >= F.lit(t), F.col("cnt")).otherwise(F.lit(0))
            ).alias(f"d{i}")
        )
    same_pairs = groups.filter(F.col("cnt") >= 2).agg(
        F.coalesce(
            F.sum((F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long")), F.lit(0)
        ).alias("sp")
    )
    crossed = cross.agg(*pair_aggs).crossJoin(F.broadcast(same_pairs))
    docs = per_mask.agg(*doc_aggs)
    rows = crossed.crossJoin(F.broadcast(docs))
    # r12: ONE explode over a literal struct array instead of a
    # |thresholds|-way union of single-row selects — the union re-ran
    # the aggregate subtree per branch (7 branches ≈ 18 extra stages);
    # values are identical column arithmetic
    arr = F.array(
        *[
            F.struct(
                F.lit(float(t)).alias("threshold"),
                # every same-mask pair sits at jaccard 1.0 ≥ any t ≤ 1.0
                (F.coalesce(F.col(f"p{i}"), F.lit(0)) + F.col("sp"))
                .cast("long")
                .alias("n_pairs"),
                F.coalesce(F.col(f"d{i}"), F.lit(0)).cast("long").alias("n_docs"),
            )
            for i, t in enumerate(thresholds)
        ]
    )
    return (
        rows.select(F.explode(arr).alias("r"))
        .select("r.threshold", "r.n_pairs", "r.n_docs")
        .orderBy("threshold")
    )


def md5_minhash_candidates(
    df: DataFrame,
    num_perm: int,
    bands: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded-MinHash candidate pairs using md5-STRING min-hashing —
    the cross-engine-deterministic variant.

    The production path (minhash_signatures / minhash_asset_rows)
    hashes with seeded xxhash64 for JVM codegen speed; this variant instead uses
    ``min(md5(j || ':' || word))`` per permutation j. md5 over
    identical strings yields identical lowercase hex in Spark AND
    DuckDB, and the min of hex strings is a valid min-hash (any
    uniform total order on words works), so the ENTIRE candidate
    generation is expressible as ANSI SQL — which is what lets the
    recall of banded LSH be certified end-to-end against a DuckDB
    oracle rather than merely smoke-checked.

    Plan shape is the scale shape: explode to (id, word, j) — rows =
    |distinct words| x num_perm — one partial-agg shuffle to
    signatures, one to band keys, then a self-equi-join on
    (band, band_key). No cross join anywhere.
    """
    if num_perm % bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by bands={bands}")
    rows_per_band = num_perm // bands
    words = tokenized(df, text_col, id_col)  # same vocabulary as jaccard_pairs
    sigs = (
        words.select(id_col, "word", F.explode(F.sequence(F.lit(1), F.lit(num_perm))).alias("j"))
        .groupBy(id_col, "j")
        .agg(F.min(F.md5(F.concat_ws(":", F.col("j").cast("string"), F.col("word")))).alias("sig"))
    )
    bkeys = (
        sigs.withColumn("band", F.expr(f"CAST((j - 1) DIV {rows_per_band} AS INT)"))
        .groupBy(id_col, "band")
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "sig"))),
                    lambda s: s.getField("sig"),
                ),
            ).alias("bkey")
        )
    )
    a, b = bkeys.alias("a"), bkeys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


# ------------------------------------------------------------- MinHash


def _hash_band(seed: int) -> F.Column:
    # xxhash64 with per-permutation seed → one MinHash permutation.
    return F.xxhash64(F.col("word"), F.lit(seed))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    shingle: int | None = None,
) -> DataFrame:
    """MinHash signature (num_perm minima of seeded xxhash64) per doc.

    One explode + one groupBy; signatures are arrays of longs. All
    hashing is JVM-side (xxhash64 builtin) — no Python in the loop.
    """
    words = tokenized(df, text_col, id_col, shingle=shingle)
    mins = [F.min(_hash_band(i)).alias(f"h{i}") for i in range(num_perm)]
    sig = words.groupBy(id_col).agg(*mins)
    return sig.select(F.col(id_col), F.array(*[f"h{i}" for i in range(num_perm)]).alias("signature"))


def minhash_asset_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
) -> DataFrame:
    """The batch-shaped unit of the maintained MinHash dedup asset:
    per-doc (id, signature array<long>[num_perm], words array<string>)
    out of ONE tokenize pass and ONE groupBy. The full-corpus
    materialization (queries/documents._minhash_assets_path) and the
    per-batch incremental maintenance
    (operators/incremental_dedup.update_signature_assets) both call
    this, so incremental append == full rebuild row-for-row. Words are
    sorted for deterministic parity between the two paths (Jaccard
    rescore is order-insensitive)."""
    words = tokenized(df, text_col, id_col)
    mins = [F.min(_hash_band(i)).alias(f"h{i}") for i in range(num_perm)]
    return (
        words.groupBy(id_col)
        .agg(*mins, F.array_sort(F.collect_set("word")).alias("words"))
        .select(
            id_col,
            F.array(*[f"h{i}" for i in range(num_perm)]).alias("signature"),
            "words",
        )
    )


def minhash_band_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The banded-LSH CANDIDATE stage over a precomputed signature
    table: slice each signature into ``bands`` keys, equi-join on
    (band, bucket), dedup to distinct (id_a, id_b) with id_a < id_b.
    ``max_bucket_size`` refuses degenerate buckets' quadratic
    candidate sets (the scale valve). Exposed separately so consumers
    that only need the candidate SET — the cross-modal agreement
    audit, recall accounting, cluster seeding — skip the word-set
    read and the exact-Jaccard rescore entirely."""
    assert num_perm % bands == 0
    rows_per_band = num_perm // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band).alias("key"),
        )
        for b in range(bands)
    ]
    buckets = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.hash("bk.key").alias("bucket")
    )
    if max_bucket_size is not None:
        # Degenerate-bucket valve as a count-over-partition window:
        # its exchange hash-partitions the bucket rows on exactly the
        # candidate join's key (band, bucket), so the join downstream
        # REUSES the partitioning instead of re-shuffling — one
        # exchange of the bucket rows total. (A partial-agg +
        # broadcast-anti formulation moves fewer bytes for the valve
        # itself but adds a second full exchange for the join;
        # measured ~25% slower end-to-end.)
        wb = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("__bs", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bs") <= max_bucket_size)
            .drop("__bs")
        )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs_from(
    sig: DataFrame,
    word_sets: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, rescored with exact
    Jaccard, over PRECOMPUTED inputs: ``sig`` is (id, signature
    array<long> of length num_perm) from ``minhash_signatures`` or
    ``minhash_asset_rows``; ``word_sets`` is (id, words array) sharing
    the signatures' vocabulary. The signature and word-set tables are
    maintained pipeline assets (appended per ingested batch, like the
    winnow fingerprint index in operators/incremental_dedup.py), so a
    dedup query reads two compact per-doc tables instead of
    re-exploding the corpus into tokens.

    Band signature equality → equi-join candidates (the LSH step);
    ONLY the surviving candidate pairs are rescored with exact word-set
    Jaccard (array_intersect), so the output threshold is exact, not
    probabilistic, and the rescore costs O(|candidates|).

    ``max_bucket_size`` is the safety valve on the band join: a bucket
    holding B docs emits B² candidate pairs, and real corpora always
    have degenerate buckets (boilerplate, templated pages, tiny shared
    vocabularies) whose members are near-dups only in the
    UNINTERESTING sense — production LSH dedup drops oversized buckets
    rather than pay their quadratic cost (the same posting-list cap
    functions/text.winnow applies at 50 docs/fp). Recall loss is
    confined to pairs whose EVERY shared band is oversized."""
    candidates = minhash_band_candidates(
        sig, id_col=id_col, num_perm=num_perm, bands=bands, max_bucket_size=max_bucket_size
    )
    wa = word_sets.select(F.col(id_col).alias("id_a"), F.col("words").alias("wa"))
    wb = word_sets.select(F.col(id_col).alias("id_b"), F.col("words").alias("wb"))
    inter = F.size(F.array_intersect("wa", "wb"))
    union = F.size("wa") + F.size("wb") - inter
    return (
        candidates.join(wa, "id_a")
        .join(wb, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------- SimHash


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle: int | None = None,
    use_md5: bool = False,
) -> DataFrame:
    """SimHash per document, fully JVM-side.

    Each distinct word hashes to ``bits`` bits; per document, each bit
    position accumulates +1/-1 by that bit's value; the sign vector is
    packed back into one long. Hamming-close simhashes ⇒ similar word
    sets. Plan: explode → groupBy(id) with ``bits`` conditional sums →
    bit-pack; one shuffle total.

    Hash choice: the default is seeded xxhash64 (64 bits, whole-stage
    codegen). ``use_md5=True`` switches to the first 15 hex chars of
    md5(word) as a 60-bit int (pass ``bits=60``) — the portable-hash
    idiom (same as the KMV / quantile-sketch / md5-minhash oracle
    modes) that makes the ENTIRE simhash pipeline replayable as ANSI
    SQL, which is what lets simhash_near_dups carry a value-exact
    DuckDB oracle instead of a rows-only check. A 60-bit simhash in a
    long works unchanged with 16-bit pigeonhole blocks (the top block
    just carries 4 constant zero bits)."""
    if use_md5 and bits > 60:
        raise ValueError(f"use_md5 provides 60 hash bits; bits={bits} > 60")
    words = tokenized(df, text_col, id_col, shingle=shingle)
    if use_md5:
        words = words.withColumn(
            "h", F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("long")
        )
    else:
        words = words.withColumn("h", F.xxhash64("word", F.lit(1337)))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(
            f"b{i}"
        )
        for i in range(bits)
    ]
    agg = words.groupBy(id_col).agg(*bit_sums)
    packed = agg.select(
        F.col(id_col),
        sum(
            (F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")) * F.lit(2 ** i).cast("long"))
            if i < 63
            else F.when(F.col(f"b{i}") > 0, F.lit(-(2 ** 63)).cast("long")).otherwise(F.lit(0).cast("long"))
            for i in range(bits)
        ).alias("simhash"),
    )
    return packed


def simhash_near_pairs_from(
    sh: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    max_block_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``
    over a PRECOMPUTED (id, simhash) table from :func:`simhash` — the
    maintained-asset entry point (simhashes are per-doc scalars a
    pipeline appends per batch; re-hashing the corpus per query
    measures recompute, not the query).

    Candidates: split the 64-bit hash into ``blocks`` equal blocks; by
    pigeonhole a pair is GUARANTEED to share a block only when its
    Hamming distance is < ``blocks``, so full recall requires
    ``max_hamming < blocks`` (enforced). Then exact popcount rescoring.
    No cross join. ``max_block_size`` caps degenerate blocks like
    ``minhash_lsh_pairs_from``'s ``max_bucket_size``: on the sf0.1
    corpus 28 of ~15 k block keys held >100 docs and one held ~2 000
    (≈2 M pairs by itself)."""
    if max_hamming >= blocks:
        raise ValueError(
            f"max_hamming={max_hamming} >= blocks={blocks}: pigeonhole recall "
            "guarantee is Hamming < blocks; raise blocks (64 must stay divisible) "
            "or lower max_hamming"
        )
    block_bits = 64 // blocks
    mask = (1 << block_bits) - 1
    exploded = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("simhash"), i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    if max_block_size is not None:
        # count-over-partition window, like minhash_band_candidates:
        # the valve's exchange pre-partitions the block join's key
        wb = Window.partitionBy("blk", "key")
        exploded = (
            exploded.withColumn("__bs", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bs") <= max_block_size)
            .drop("__bs")
        )

    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
