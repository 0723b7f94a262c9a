"""Semantics-pinning tests for the composite operators (inline data —
edge cases the big tables don't exercise)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.asof import asof_join
from data_ingestion_project_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_asset_rows,
    minhash_lsh_pairs_from,
    simhash,
)
from data_ingestion_project_spark.operators.sessionize import sessionize
from data_ingestion_project_spark.operators.similarity import cosine_topk


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_backward_inclusive_and_left_nulls(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "p1"),
         (1, _ts("2024-01-01T12:00:00"), "p2"),
         (2, _ts("2024-01-01T09:00:00"), "p3")],
        "user int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 100.0),   # equal ts → inclusive
         (1, _ts("2024-01-01T11:30:00"), 200.0),
         (2, _ts("2024-01-01T09:30:00"), 300.0)],  # after left row → no match
        "user int, rts timestamp, price double",
    )
    out = asof_join(left, right, on=["user"], left_ts="ts", right_ts="rts",
                    right_payload=["price"]).orderBy("ts")
    got = {r["tag"]: r["price_asof"] for r in out.collect()}
    assert got == {"p1": 100.0, "p2": 200.0, "p3": None}


def test_sessionize_gap_boundary(spark):
    rows = [
        (1, _ts("2024-01-01T10:00:00")),
        (1, _ts("2024-01-01T10:29:59")),  # gap < 30min → same session
        (1, _ts("2024-01-01T11:00:00")),  # gap 30:01 → new session
        (2, _ts("2024-01-01T00:00:00")),
    ]
    df = spark.createDataFrame(rows, "user int, ts timestamp")
    out = sessionize(df, key="user", ts="ts", gap_seconds=1800)
    sess = [(r["user"], r["session_id"]) for r in out.orderBy("user", "ts").collect()]
    assert sess == [(1, 1), (1, 1), (1, 2), (2, 1)]


def test_exact_dedup_keeps_lowest_id_and_normalizes(spark):
    df = spark.createDataFrame(
        [(3, "Hello  World"), (1, "hello world"), (2, "HELLO WORLD "), (4, "other")],
        "doc_id int, text string",
    )
    out = exact_dedup(df)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 4]  # keep-first by id


def test_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z")],
        "doc_id int, text string",
    )
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(df).collect()}
    assert out[(1, 2)] == 3 / 5  # |{a,b,c}| / |{a,b,c,d,e}|
    assert (1, 3) not in out  # no shared words → never a candidate


def test_minhash_lsh_finds_near_identical(spark):
    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(49)) + " zz"
    far = " ".join(f"q{i}" for i in range(50))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id int, text string")
    rows = minhash_asset_rows(df)
    pairs = minhash_lsh_pairs_from(
        rows.select("doc_id", "signature"), rows.select("doc_id", "words"), min_jaccard=0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_identical_texts_equal_hash(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon zeta")],
        "doc_id int, text string",
    )
    h = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert h[1] == h[2]
    assert h[1] != h[3]


def test_cosine_topk_orders_by_similarity(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    out = cosine_topk(df, [1.0, 0.0], k=2, exclude_ids=(1,)).collect()
    assert [r["vec_id"] for r in out] == [2, 3]
    assert out[0]["sim"] > 0.99


def test_cosine_batch_topk_per_query_answers(spark):
    """Each probe gets its own ranked list; self-matches excluded;
    results agree with running cosine_topk per query (the batch join
    is an optimization, not a semantics change)."""
    from data_ingestion_project_spark.operators.similarity import cosine_batch_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.1, 0.9])],
        "vec_id int, embedding array<double>",
    )
    queries = df.filter(F.col("vec_id").isin(1, 3)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_batch_topk(df, queries, k=2).collect()
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in out}
    assert got == {(1, 1): 2, (1, 2): 4, (3, 1): 4, (3, 2): 2}
    for r in out:  # batch result must equal the single-query operator
        single = cosine_topk(df, [1.0, 0.0] if r["query_id"] == 1 else [0.0, 1.0],
                             k=2, exclude_ids=(r["query_id"],)).collect()
        assert single[r["rank"] - 1]["vec_id"] == r["vec_id"]


def test_embedding_cluster_stats_reconciles(spark):
    """Cluster sizes sum to the corpus (minus the held-out probe), the
    dominant-label share is a valid fraction, and the seeded quantizer
    makes the whole frame deterministic across runs."""
    from data_ingestion_project_spark.queries import all_queries

    fn = all_queries()["embedding_cluster_stats"]
    a = fn(spark, "/root/testdata/sf0.001").collect()
    n_corpus = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") != 0).count()
    )
    assert sum(r["n_vectors"] for r in a) == n_corpus
    assert all(0.0 < r["top_label_share"] <= 1.0 for r in a)
    assert all(-1.0 <= r["avg_cos_to_centroid"] <= 1.0 for r in a)
    b = fn(spark, "/root/testdata/sf0.001").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_training_shard_plan_covers_and_balances(spark):
    """Every doc lands in exactly one of the 16 shards (counts
    reconcile with the table) and the hash spreads them: no shard is
    empty, none holds more than 3x the mean."""
    from data_ingestion_project_spark.queries import all_queries

    rows = all_queries()["training_shard_plan"](spark, "/root/testdata/sf0.001").collect()
    n_total = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_total
    assert len(rows) == 16 and sorted(r["shard"] for r in rows) == list(range(16))
    mean = n_total / 16
    assert all(0 < r["n_docs"] < 3 * mean for r in rows)


def test_dsir_weights_favor_target_language(spark):
    """The importance model must score target-distribution (English)
    documents above non-target ones — the entire point of DSIR. Pinned
    on a planted corpus: English docs share the target's vocabulary,
    the others don't."""
    from data_ingestion_project_spark.queries.documents import dsir_importance_weights

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat with the hat", "en", "web", 35),
            (2, "the dog and the cat ran to the house", "en", "web", 36),
            (3, "zzq qqz xkcd vvv www qqq kkk jjj", "xx", "spam", 32),
            (4, "vvv www qqq zzq kkk xkcd jjj qqz", "xx", "spam", 32),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import os, tempfile

    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        rows = {r["source"]: r for r in dsir_importance_weights(spark, tmp).collect()}
    assert rows["web"]["mean_logratio"] > rows["spam"]["mean_logratio"]
    assert rows["web"]["n_selected"] == 2 and rows["spam"]["n_selected"] == 0


def test_union_events_table_reads_nanos(spark):
    from data_ingestion_project_spark.sources.readers import table

    e = table(spark, "/root/testdata/sf0.001", "events")
    # NTZ by design: timezone-independent bucketing matching DuckDB
    assert dict(e.dtypes)["ts"] == "timestamp_ntz"
    assert e.select(F.min("ts")).first()[0].year == 2024


def test_asof_null_payload_fields_not_mixed(spark):
    """The latest right row must be carried as a UNIT: when its fields
    are null, the output must NOT backfill them from older right rows
    (per-column carry would fabricate rows that never existed)."""
    import datetime as dt

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12, 0, 0))], "user int, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10, 0, 0), 5.0, "old-b"),
            (1, dt.datetime(2024, 1, 1, 11, 0, 0), None, "new-b"),
        ],
        "user int, rts timestamp, a double, b string",
    )
    from data_ingestion_project_spark.operators.asof import asof_join

    out = asof_join(left, right, on=["user"], left_ts="ts", right_ts="rts",
                    right_payload=["a", "b"]).first()
    assert out["b_asof"] == "new-b"
    assert out["a_asof"] is None  # from the SAME (latest) right row, not backfilled


def test_char_shingle_tokenization(spark):
    """shingle=3 emits distinct char trigrams — the CJK/no-word-boundary
    dedup unit; short strings yield one (possibly shorter) shingle."""
    from data_ingestion_project_spark.operators.dedup import tokenized

    df = spark.createDataFrame([(1, "abcd"), (2, "ab")], "doc_id int, text string")
    got = {}
    for r in tokenized(df, "text", "doc_id", shingle=3).collect():
        got.setdefault(r["doc_id"], set()).add(r["word"])
    assert got[1] == {"abc", "bcd"}
    assert got[2] == {"ab"}


def test_minhash_signature_estimates_jaccard(spark):
    """MinHash theory check: the fraction of agreeing signature slots
    estimates the true Jaccard within sampling error (64 permutations
    → se ~ sqrt(J(1-J)/64) ≈ 0.06 at J=0.5; assert within 3 se)."""
    from data_ingestion_project_spark.operators.dedup import jaccard_pairs, minhash_signatures

    a = " ".join(f"w{i}" for i in range(60))           # {w0..w59}
    b = " ".join(f"w{i}" for i in range(30, 90))        # {w30..w89}; true J = 30/90
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id int, text string")

    true_j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(df).collect()}[(1, 2)]
    assert abs(true_j - 30 / 90) < 1e-9

    sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(df, num_perm=64).collect()}
    agree = sum(x == y for x, y in zip(sigs[1], sigs[2])) / 64
    se = (true_j * (1 - true_j) / 64) ** 0.5
    assert abs(agree - true_j) < 3 * se + 1e-9


def test_substitution_block_pairs_matches_bruteforce(spark):
    """Exact-recall claim: the neighborhood equi-join finds EXACTLY the
    equal-length pairs with levenshtein <= 1 that brute force finds."""
    import itertools

    names = [
        "Supplier#000000001", "Supplier#000000002",  # dist 1
        "Supplier#000000011",                        # dist 1 from 001
        "Supplier#999999999",                        # far
        "Acme Corp", "Acme Corq", "Acme Corp",       # dist 1 + exact dup
        "short", "shore",                            # dist 2 (s-h-o-r equal, t/e at 5? lev=1!)
        "ab", "ba",                                  # dist 2 (two substitutions)
    ]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "id int, name string")

    from data_ingestion_project_spark.operators.dedup import substitution_block_pairs

    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in substitution_block_pairs(df, "id", "name").collect()
    }

    def lev(a: str, b: str) -> int:
        if len(a) != len(b):
            return 99
        return sum(x != y for x, y in zip(a, b))  # equal length => substitutions only

    want = {
        (i, j, lev(names[i], names[j]))
        for i, j in itertools.combinations(range(len(names)), 2)
        if lev(names[i], names[j]) <= 1
    }
    assert got == want


def test_equal_frequency_buckets_matches_ntile(spark):
    """Distributed bucketing == ntile(k) over the same ordering, on data
    with duplicate values straddling bucket boundaries and N % k != 0."""
    import random

    from pyspark.sql import Window

    from data_ingestion_project_spark.operators.quantiles import equal_frequency_buckets

    rng = random.Random(7)
    rows = [(i, float(rng.randint(0, 30))) for i in range(257)]  # heavy ties, 257 % 7 != 0
    rows += [(1000, None)]  # null excluded by both paths
    df = spark.createDataFrame(rows, "id long, v double")

    got = {
        (r["id"], r["bucket"])
        for r in equal_frequency_buckets(df, "v", 7, tiebreak_cols=["id"]).collect()
    }
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = {
        (r["id"], r["bucket"])
        for r in df.filter(F.col("v").isNotNull())
        .withColumn("bucket", F.ntile(7).over(w))
        .collect()
    }
    assert got == want


def test_equal_frequency_buckets_multi_matches_chained_and_ntile(spark):
    """The folded multi-column form == three chained
    equal_frequency_buckets calls == ntile(k) per column, on columns
    with heavy ties broken by tiebreak columns (N % k != 0 for every
    k); a NULL value column raises instead of landing in bucket 1."""
    import random

    import pytest
    from pyspark.sql import Window

    from data_ingestion_project_spark.operators.quantiles import (
        equal_frequency_buckets,
        equal_frequency_buckets_multi,
    )

    rng = random.Random(11)
    rows = [
        (i, rng.randint(0, 9), rng.randint(0, 3), float(rng.randint(0, 40)))
        for i in range(203)
    ]
    df = spark.createDataFrame(rows, "id long, a long, b long, c double")
    specs = [
        ("a", 5, ["id"], "a_bkt"),
        ("b", 7, ["a", "id"], "b_bkt"),
        ("c", 4, ["b", "id"], "c_bkt"),
    ]
    outs = [oc for *_, oc in specs]

    def assignment(frame):
        return sorted(tuple(r) for r in frame.select("id", *outs).collect())

    got = assignment(equal_frequency_buckets_multi(df, specs))

    chained = df
    for vc, k, tb, oc in specs:
        chained = equal_frequency_buckets(chained, vc, k, tiebreak_cols=tb, out_col=oc)
    assert got == assignment(chained)

    ntiled = df
    for vc, k, tb, oc in specs:
        w = Window.orderBy(F.col(vc).asc(), *[F.col(c).asc() for c in tb])
        ntiled = ntiled.withColumn(oc, F.ntile(k).over(w))
    assert got == assignment(ntiled)

    with_null = df.unionByName(
        spark.createDataFrame([(1000, 1, None, 2.0)], "id long, a long, b long, c double")
    )
    with pytest.raises(ValueError, match="'b'"):
        equal_frequency_buckets_multi(with_null, specs)


def test_lsh_ann_recall_floor(spark):
    """Multi-probe LSH must actually find neighbors: recall@10 >= 0.4 on
    the weakly-clustered synthetic corpus (deterministic: fixed seed +
    fixed data; measured 0.5 at sf0.001, 0.6 at sf0.01). The production
    path (seeded Gaussian planes) is checked directly — the lsh_recall
    QUERY is now the md5-corpus-hyperplane oracle twin."""
    from data_ingestion_project_spark.queries import all_queries
    from data_ingestion_project_spark.queries.embeddings import (
        _recall_at_k,
        knn_brute_force,
        knn_lsh_approx,
    )

    sf = "/root/testdata/sf0.001"
    row = _recall_at_k(
        knn_brute_force(spark, sf).select("vec_id"),
        knn_lsh_approx(spark, sf).select("vec_id"),
    ).collect()[0]
    assert row["k"] == 10
    assert row["recall_at_k"] >= 0.4

    twin = all_queries()["lsh_recall"](spark, sf).collect()[0]
    assert twin["k"] == 10
    assert twin["recall_at_k"] >= 0.3  # corpus-hyperplane twin floor


def test_ivf_ann_recall_floor(spark):
    """IVF (spherical-kmeans coarse quantizer, 6/16 lists probed) must
    actually find neighbors: recall@10 >= 0.6 at sf0.001 (measured 0.9;
    the floor leaves slack for float-sum order wiggle in centroid
    training). Also pins the index invariants: every vector is assigned
    to exactly one of the n_centroids inverted lists."""
    from data_ingestion_project_spark.operators.similarity import ivf_assign, ivf_centroids
    from data_ingestion_project_spark.queries import all_queries
    from data_ingestion_project_spark.sources.readers import table

    # production path (xxhash sample + Lloyd): floor checked directly —
    # the ivf_recall QUERY is now the md5-deterministic oracle twin
    from data_ingestion_project_spark.queries.embeddings import (
        _recall_at_k,
        knn_brute_force,
        knn_ivf_approx,
    )

    sf = "/root/testdata/sf0.001"
    row = _recall_at_k(
        knn_brute_force(spark, sf).select("vec_id"),
        knn_ivf_approx(spark, sf).select("vec_id"),
    ).collect()[0]
    assert row["k"] == 10
    assert row["recall_at_k"] >= 0.6

    # the certified twin (md5 centroids, full SQL replay) must also
    # actually find neighbors, not merely match its oracle
    twin = all_queries()["ivf_recall"](spark, sf).collect()[0]
    assert twin["k"] == 10
    assert twin["recall_at_k"] >= 0.4  # untrained (0-Lloyd) quantizer floor

    corpus = table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_centroids(corpus, n_centroids=8, n_iter=1)
    assigned = ivf_assign(corpus, cents)
    stats = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("list_id").isNull().cast("int")).alias("n_null"),
        F.min("list_id").alias("lo"),
        F.max("list_id").alias("hi"),
    ).collect()[0]
    assert stats["n"] == corpus.count()
    assert stats["n_null"] == 0
    assert 0 <= stats["lo"] and stats["hi"] <= 7


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    """The on-disk IVF index must behave like an index: a probe query's
    list_id filter is a PARTITION filter (pruned at planning time —
    non-probed inverted lists are never read), and the probed result
    equals the in-memory IVF path on the same centroids."""
    from data_ingestion_project_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_centroids,
        ivf_probe_topk,
        write_ivf_index,
    )
    from data_ingestion_project_spark.plans.explain import formatted_plan
    from data_ingestion_project_spark.sources.readers import table

    corpus = table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_centroids(corpus, n_centroids=8, n_iter=1)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(corpus, cents, path)

    q = list(corpus.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    probed = ivf_probe_topk(spark, path, q, cents, k=5, n_probe=2)
    plan = formatted_plan(probed)
    assert "PartitionFilters" in plan
    assert "list_id" in plan.split("PartitionFilters")[1][:200]

    in_memory = ivf_ann_topk(corpus, q, k=5, n_centroids=8, n_probe=2, centroids=cents)
    got = [(r["vec_id"], round(r["sim"], 6)) for r in probed.collect()]
    want = [(r["vec_id"], round(r["sim"], 6)) for r in in_memory.collect()]
    assert got == want


def test_knn_ivf_disk_query_matches_memory_path_and_prunes(spark):
    """The driver-gate knn_ivf_disk query must (a) return EXACTLY the
    in-memory knn_ivf_approx rows — same centroids, probes, scoring —
    so ivf_recall's floor transfers verbatim, and (b) serve them from a
    partition-PRUNED scan of the materialized on-disk index (list_id as
    a planning-time PartitionFilter)."""
    from data_ingestion_project_spark.plans.explain import formatted_plan
    from data_ingestion_project_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    disk = all_queries()["knn_ivf_disk"](spark, sf)
    plan = formatted_plan(disk)
    assert "PartitionFilters" in plan
    assert "list_id" in plan.split("PartitionFilters")[1][:200]

    got = [(r["vec_id"], r["sim"]) for r in disk.collect()]
    want = [
        (r["vec_id"], r["sim"])
        for r in all_queries()["knn_ivf_approx"](spark, sf).collect()
    ]
    assert got == want
    assert len(got) == 10


def test_minhash_recall_floor(spark):
    """Banded md5-minhash recall over exact Jaccard>=0.9 ground truth
    (the oracle-certified recall query) must stay near-perfect."""
    from data_ingestion_project_spark.queries import all_queries

    row = all_queries()["minhash_recall"](spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_true"] > 0
    assert row["recall"] >= 0.95


def test_lsh_high_similarity_recall_radius1(spark):
    """On a corpus WITH tight clusters (planted near-duplicates), radius-1
    multi-probe already achieves high recall — the regime hyperplane LSH
    is built for."""
    import random

    from data_ingestion_project_spark.operators.similarity import lsh_ann_topk

    rng = random.Random(3)
    base = [rng.gauss(0, 1) for _ in range(64)]
    rows = []
    for i in range(1, 21):  # 20 planted near-neighbors of the query
        rows.append((i, [v + rng.gauss(0, 0.08) for v in base]))
    for i in range(21, 521):  # 500 random background vectors
        rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"] for r in lsh_ann_topk(df, base, k=10, n_planes=8, probe_hamming=1).collect()}
    assert len(got & set(range(1, 21))) >= 9


def test_pq_ann_recall_floor(spark):
    """PQ-ADC (8 subspaces x 16 codewords, rerank 100) must actually
    find neighbors: recall@10 >= 0.6 at sf0.001 (measured 0.9; floor
    leaves slack for float-sum order wiggle in codebook training).
    Also pins the code invariant: every vector encodes to exactly m
    codes, each within [0, ksub)."""
    import pyspark.sql.functions as F

    from data_ingestion_project_spark.operators.similarity import pq_codebooks, pq_encode
    from data_ingestion_project_spark.queries import all_queries
    from data_ingestion_project_spark.sources.readers import table

    # production path (xxhash sample + per-subspace Lloyd): floor
    # checked directly — the pq_recall QUERY is now the
    # md5-deterministic oracle twin (0-Lloyd codebooks, integer ADC)
    from data_ingestion_project_spark.queries.embeddings import (
        _recall_at_k,
        knn_brute_force,
        knn_pq_approx,
    )

    sf = "/root/testdata/sf0.001"
    row = _recall_at_k(
        knn_brute_force(spark, sf).select("vec_id"),
        knn_pq_approx(spark, sf).select("vec_id"),
    ).collect()[0]
    assert row["k"] == 10
    assert row["recall_at_k"] >= 0.6

    twin = all_queries()["pq_recall"](spark, sf).collect()[0]
    assert twin["k"] == 10
    assert twin["recall_at_k"] >= 0.4  # untrained (0-Lloyd) codebook floor

    corpus = table(spark, "/root/testdata/sf0.001", "embeddings")
    books = pq_codebooks(corpus, m=8, ksub=16, n_iter=3, seed=42)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    enc = pq_encode(corpus, books)
    bad = enc.filter(
        (F.size("pq_code") != 8)
        | F.exists("pq_code", lambda c: (c < 0) | (c >= 16))
    ).count()
    assert bad == 0


def test_sketch_estimates_track_exact_counts(spark):
    """Accuracy floors for the sketch queries: HLL day/total estimates
    (the oracle-certified portable register rollup AND its binary
    Datasketches twin) and theta intersections must land within 5% of
    exact — exactness gates prove determinism; this proves accuracy."""
    from data_ingestion_project_spark.queries import all_queries
    from data_ingestion_project_spark.sources.readers import table

    sf = "/root/testdata/sf0.01"
    e = table(spark, sf, "events")

    got = {r["day"]: r["est_users"] for r in all_queries()["sketch_rollup_dau"](spark, sf).collect()}
    exact = {
        r["day"]: r["n"]
        for r in e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    exact["TOTAL"] = e.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for day, est in got.items():
        assert abs(est - exact[day]) <= max(0.05 * exact[day], 2), day

    # the KMV certified twin: same shape, same accuracy expectation
    # (k=256 → ~6% standard error; allow 3σ plus small-count slack).
    # Days below k distinct users must be EXACT by the KMV rule.
    kmv = {r["day"]: r["est_users"] for r in all_queries()["kmv_dau_rollup"](spark, sf).collect()}
    assert set(kmv) == set(exact)
    for day, est in kmv.items():
        if exact[day] < 256:
            assert est == exact[day], day
        else:
            assert abs(est - exact[day]) <= 0.20 * exact[day], day

    # KMV retention twin: at this sf every week holds fewer than k=256
    # distinct users, so the sketch IS the set and the intersection
    # estimate must EQUAL the exact adjacent-week self-join (the
    # estimation regime is exercised — and oracle-checked — at sf0.1)
    kmv_ret = {
        r["week_start"]: (r["est_week_users"], r["est_retained_next_week"])
        for r in all_queries()["kmv_weekly_retention"](spark, sf).collect()
    }
    wk_users = e.select(
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("w"), "user_id"
    ).distinct()
    import datetime as _dt

    for wstart, (est_w, est_ret) in kmv_ret.items():
        exact_w = wk_users.filter(F.col("w") == wstart).count()
        nxt = (
            _dt.date.fromisoformat(wstart) + _dt.timedelta(days=7)
        ).isoformat()
        exact_ret = (
            wk_users.filter(F.col("w") == wstart)
            .select("user_id")
            .join(
                wk_users.filter(F.col("w") == nxt).select("user_id"),
                "user_id",
            )
            .count()
        )
        if exact_w < 256:
            assert (est_w, est_ret) == (exact_w, exact_ret), wstart
        else:
            assert abs(est_w - exact_w) <= 0.20 * exact_w, wstart
            assert abs(est_ret - exact_ret) <= max(0.25 * exact_ret, 5), wstart

    # theta set-algebra query (r11 portable redesign): at this sf every
    # week holds fewer than k=256 users → exact mode, so retained,
    # churned AND new must EQUAL the exact set algebra.
    ret = all_queries()["theta_weekly_retention"](spark, sf).collect()
    assert ret
    weeks = e.select(
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("w"), "user_id"
    ).distinct()
    for r in ret:
        nxt = F.date_format(
            F.date_add(F.to_date(F.lit(r["week_start"])), 7), "yyyy-MM-dd"
        )
        cur = weeks.filter(F.col("w") == r["week_start"]).select("user_id")
        nxt_users = weeks.filter(F.col("w") == nxt).select("user_id")
        exact_ret = cur.intersect(nxt_users).count()
        exact_churn = cur.exceptAll(nxt_users.intersect(cur)).count()
        exact_new = nxt_users.exceptAll(cur.intersect(nxt_users)).count()
        assert r["est_retained_next_week"] == exact_ret, r["week_start"]
        assert r["est_churned_next_week"] == exact_churn, r["week_start"]
        assert r["est_new_next_week"] == exact_new, r["week_start"]


def test_near_dup_queries_bounded_with_recall_floor(spark):
    """The driver-gate near-dup QUERIES must return bounded rescored
    top-k (VERDICT r2 #4), and the MinHash one must still surface the
    true near-dups: every exact-Jaccard >= 0.9 pair at sf0.001 that
    fits in the top-200 budget appears in the output (recall floor vs
    the exact inverted-index ground truth)."""
    from data_ingestion_project_spark.operators.dedup import jaccard_pairs
    from data_ingestion_project_spark.queries import all_queries
    from data_ingestion_project_spark.sources.readers import table

    sf = "/root/testdata/sf0.001"
    mh = all_queries()["minhash_near_dups"](spark, sf).collect()
    sh = all_queries()["simhash_near_dups"](spark, sf).collect()
    assert len(mh) <= 200 and len(sh) <= 200

    truth = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            table(spark, sf, "documents"), min_jaccard=0.9
        ).collect()
    }
    got = {(r["id_a"], r["id_b"]) for r in mh}
    assert truth, "fixture corpus must contain planted near-dups"
    if len(truth) <= 200:
        hits = len(truth & got)
        assert hits / len(truth) >= 0.8, (hits, len(truth))


def test_misra_gries_bounds_and_presence(spark):
    """Mergeable Misra-Gries guarantees vs exact counts, with a
    capacity small enough to force evictions: (a) estimates are lower
    bounds, (b) short by at most n/(capacity+1), (c) every item with
    true frequency above n/(capacity+1) is present."""
    import random

    from data_ingestion_project_spark.operators.heavy_hitters import heavy_hitters

    rng = random.Random(7)
    # zipf-ish: few heavy items over a long tail, shuffled, forced
    # across several partitions
    items = (
        ["alpha"] * 400 + ["beta"] * 250 + ["gamma"] * 120
        + [f"tail{rng.randrange(500)}" for _ in range(1200)]
    )
    rng.shuffle(items)
    df = spark.createDataFrame([(x,) for x in items], "item string").repartition(8)
    n = len(items)
    cap = 16
    max_err = n / (cap + 1)

    exact: dict = {}
    for x in items:
        exact[x] = exact.get(x, 0) + 1
    got = {r["item"]: r["est_count"] for r in heavy_hitters(df, "item", capacity=cap).collect()}

    for item, est in got.items():
        assert est <= exact[item], (item, est, exact[item])
        assert exact[item] - est <= max_err, (item, est, exact[item], max_err)
    for item, true_n in exact.items():
        if true_n > max_err:
            assert item in got, (item, true_n, max_err)


def test_html_main_text_extraction_rules(spark):
    """Main-content extraction: boilerplate BLOCKS drop with content,
    other tags strip keeping content, entity decode order cannot
    double-decode ('&amp;lt;' must yield literal '&lt;', not '<'),
    whitespace collapses."""
    from data_ingestion_project_spark.functions.text import html_main_text

    cases = [
        # (html, expected)
        ("<p>hello <b>world</b></p>", "hello world"),
        ("<nav>menu</nav><p>body</p><footer>foot</footer>", "body"),
        ("<style>p{x}</style><script>var a=1</script>text", "text"),
        ("a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;", "a & b <c> \"d\" 'e'"),
        ("literal &amp;lt; stays", "literal &lt; stays"),
        ("<div   class='x'>spaced</div>   out", "spaced out"),
        ("<aside some-attr>sidebar</aside>kept", "kept"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "html string")
    got = [r["e"] for r in df.select(html_main_text("html").alias("e")).collect()]
    for (html, want), g in zip(cases, got):
        assert g == want, (html, g, want)


def test_cms_upper_bound_error_and_merge_identity(spark, tmp_path):
    """Count-Min guarantees vs exact counts, with a sketch small enough
    (4×64 cells vs ~500 distinct items) to force collisions: (a) every
    estimate is an UPPER bound (errors only add — the dual of the MG
    lower bound), (b) the fraction of items overcounting by more than
    2n/width stays near the (1/2)^depth Markov bound, (c) folding two
    disjoint halves into the standing asset (update_cms_asset, the
    streaming sink's merge) equals the whole-stream sketch BIT-FOR-BIT
    (exact algebraic identity, not an approximation)."""
    import random

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.cms import (
        cms_build,
        cms_point_estimates,
        update_cms_asset,
    )

    rng = random.Random(11)
    items = (
        ["alpha"] * 400 + ["beta"] * 250 + ["gamma"] * 120
        + [f"tail{rng.randrange(500)}" for _ in range(1200)]
    )
    rng.shuffle(items)
    n = len(items)
    depth, width = 4, 64
    df = spark.createDataFrame([(x,) for x in items], "item string").repartition(8)

    exact: dict = {}
    for x in items:
        exact[x] = exact.get(x, 0) + 1
    exact_df = spark.createDataFrame(
        [(k, v) for k, v in exact.items()], "item string, exact_cnt long"
    )

    sketch = cms_build(df, "item", depth=depth, width=width)
    got = {
        r["item"]: (r["exact_cnt"], r["est"])
        for r in cms_point_estimates(
            exact_df, sketch, "item", depth=depth, width=width
        ).collect()
    }
    assert set(got) == set(exact)
    over_budget = 0
    for item, (true_n, est) in got.items():
        assert est >= true_n, (item, est, true_n)
        if est - true_n > 2 * n / width:
            over_budget += 1
    # Markov: Pr[min-over-depth overcounts by > 2n/w] <= (1/2)^depth
    # = 6.25% per item; allow slack for hash-realization variance
    assert over_budget / len(exact) <= 0.20, (over_budget, len(exact))

    half_a = spark.createDataFrame([(x,) for x in items[: n // 2]], "item string")
    half_b = spark.createDataFrame([(x,) for x in items[n // 2 :]], "item string")
    asset = str(tmp_path / "cms")
    update_cms_asset(spark, asset, half_a, "item", depth=depth, width=width)
    update_cms_asset(spark, asset, half_b, "item", depth=depth, width=width)
    merged = T.read(spark, asset)
    whole_cells = {(r["j"], r["bucket"]): r["cnt"] for r in sketch.collect()}
    merged_cells = {(r["j"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert merged_cells == whole_cells

    # the pre-counted build (r10, the word-census fast path) is
    # cellwise IDENTICAL to sketching the expanded stream
    from data_ingestion_project_spark.operators.cms import cms_build_weighted

    weighted = cms_build_weighted(
        exact_df, "item", "exact_cnt", depth=depth, width=width
    )
    weighted_cells = {(r["j"], r["bucket"]): r["cnt"] for r in weighted.collect()}
    assert weighted_cells == whole_cells


def test_approx_top_words_exact_on_small_vocab(spark):
    """With capacity far above the corpus vocabulary no counter ever
    evicts, so the MG query must equal the exact wordcount top-20."""
    from data_ingestion_project_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    approx = [tuple(r) for r in all_queries()["approx_top_words"](spark, sf).collect()]
    exact = [tuple(r) for r in all_queries()["top_words"](spark, sf).collect()]
    assert [a[0] for a in approx] == [e[0] for e in exact]
    assert [a[1] for a in approx] == [e[1] for e in exact]


def test_quality_checks_count_planted_violations(spark):
    """Constraint checks must count planted violations exactly: NULL
    predicate results are violations (three-valued logic must not skip
    broken rows), duplicate keys count once per key, NULL FKs are not
    orphans."""
    from data_ingestion_project_spark.operators.quality_checks import (
        quality_report,
        referential_check,
        row_checks,
        unique_check,
    )

    child = spark.createDataFrame(
        [(1, 10.0), (1, -5.0), (2, None), (3, 7.0), (99, 1.0), (None, 2.0)],
        "fk int, amount double",
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")

    report = {
        r["check_name"]: (r["n_violations"], r["passed"])
        for r in quality_report(
            row_checks(child, {"amount_positive": F.col("amount") > 0}),
            unique_check(child, ["fk"]),
            referential_check(child, "fk", parent, "pk"),
        ).collect()
    }
    # -5.0 fails, NULL amount is a violation (not skipped)
    assert report["amount_positive"] == (2, False)
    # fk=1 duplicated -> ONE violated key, however many copies
    assert report["unique(fk)"] == (1, False)
    # fk=99 orphaned; NULL fk is not an orphan
    assert report["fk(fk->pk)"] == (1, False)


def test_scd2_apply_versions_close_and_asof(spark):
    """SCD2 semantics end-to-end: change detection mints versions,
    unchanged refreshes are no-ops, intervals close at the successor's
    start, as-of returns the right version per timestamp, and
    re-applying the same batch is idempotent."""
    from datetime import datetime

    from data_ingestion_project_spark.operators.scd2 import scd2_apply, scd2_as_of

    t = lambda d: datetime(2024, 1, d)
    b1 = spark.createDataFrame(
        [(1, "bronze", t(1)), (2, "silver", t(1))],
        "cust int, tier string, updated_at timestamp",
    )
    state = scd2_apply(None, b1, key="cust", attrs=["tier"], ts_col="updated_at")
    assert state.count() == 2
    assert state.filter("valid_to IS NOT NULL").count() == 0

    # tier change for 1, unchanged refresh for 2, brand-new 3
    b2 = spark.createDataFrame(
        [(1, "gold", t(5)), (2, "silver", t(5)), (3, "bronze", t(5))],
        "cust int, tier string, updated_at timestamp",
    )
    state2 = scd2_apply(state, b2, key="cust", attrs=["tier"], ts_col="updated_at")
    rows = {(r["cust"], r["tier"]): (r["valid_from"], r["valid_to"]) for r in state2.collect()}
    assert rows[(1, "bronze")] == (t(1), t(5))   # closed at successor start
    assert rows[(1, "gold")] == (t(5), None)
    assert rows[(2, "silver")] == (t(1), None)   # refresh minted NO version
    assert rows[(3, "bronze")] == (t(5), None)
    assert len(rows) == 4

    # as-of: day 3 sees the original tiers, day 6 the new ones
    at3 = {r["cust"]: r["tier"] for r in scd2_as_of(state2, t(3)).collect()}
    assert at3 == {1: "bronze", 2: "silver"}
    at6 = {r["cust"]: r["tier"] for r in scd2_as_of(state2, t(6)).collect()}
    assert at6 == {1: "gold", 2: "silver", 3: "bronze"}

    # idempotent re-apply of b2
    state3 = scd2_apply(state2, b2, key="cust", attrs=["tier"], ts_col="updated_at")
    again = {(r["cust"], r["tier"]): (r["valid_from"], r["valid_to"]) for r in state3.collect()}
    assert again == rows


def test_semdedup_drops_planted_semantic_duplicates(spark):
    """SemDeDup contract: scaled copies (cosine exactly 1) sharing
    their source's cluster must drop, keep-lowest-id; the near-uniform
    rest of the corpus survives a 0.95 threshold untouched."""
    from data_ingestion_project_spark.queries import all_queries

    row = all_queries()["semdedup_summary"](spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_input"] == 550           # 500 corpus + 50 planted
    assert row["n_dropped"] == 50          # exactly the planted copies
    assert row["planted_kept"] == 0        # and nothing else
    assert row["n_kept"] == 500


def test_bpe_train_matches_reference_implementation(spark):
    """Distributed BPE training must learn the same merges, in the
    same order, as a pure-Python reference (Sennrich alg. 1) on the
    classic low/lower/newest/widest corpus — including the count-desc,
    lexicographic tie-break."""
    from data_ingestion_project_spark.operators.bpe import END, bpe_train

    corpus = ["low low low low low lower lower newest newest newest "
              "newest newest newest widest widest widest"]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = bpe_train(df, n_merges=8, min_pair_count=2)

    def ref_merges(words: dict, n: int) -> list:
        vocab = {tuple(list(w) + [END]): f for w, f in words.items()}
        out = []
        for _ in range(n):
            pairs: dict = {}
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + f
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            if best[1] < 2:
                break
            (l, r), cnt = best
            out.append((l, r, cnt))
            nv = {}
            for syms, f in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        merged.append(l + r)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                nv[tuple(merged)] = nv.get(tuple(merged), 0) + f
            vocab = nv
        return out

    words = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    assert got == ref_merges(words, 8)


def test_chunk_documents_windows_and_boundaries(spark):
    """Chunking semantics: stride grid, overlap, short-trailing-chunk
    retention, empty-doc elision, and the stride<=window guard."""
    import pytest as _pytest

    from data_ingestion_project_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, "a b"), (3, "   ")],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, window=4, stride=3).collect()
    }
    assert out[(1, 0)] == (4, "t0 t1 t2 t3")
    assert out[(1, 1)] == (4, "t3 t4 t5 t6")  # one-token overlap
    assert out[(1, 2)] == (1, "t6")           # trailing fragment kept
    assert out[(2, 0)] == (2, "a b")
    assert all(doc != 3 for doc, _ in out)    # empty doc -> no chunks
    assert len(out) == 4

    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(df, window=4, stride=5)


def test_row_checks_empty_frame_and_hostile_names(spark):
    """Review regressions: an empty batch validates clean (0, True) —
    never NULL — and check names containing quotes/backticks are data,
    not SQL text."""
    import pytest as _pytest

    from data_ingestion_project_spark.operators.quality_checks import row_checks

    empty = spark.createDataFrame([], "amount double")
    got = row_checks(empty, {"amount isn't `null`": F.col("amount").isNotNull()}).collect()
    assert [(r["check_name"], r["n_violations"], r["passed"]) for r in got] == [
        ("amount isn't `null`", 0, True)
    ]
    with _pytest.raises(ValueError, match="at least one"):
        row_checks(empty, {})


def test_scd2_same_instant_correction_wins_deterministically(spark):
    """Review regression: an update sharing the open row's valid_from
    (a same-instant correction) must deterministically supersede it —
    no zero-length versions survive, the correction becomes current."""
    from datetime import datetime

    from data_ingestion_project_spark.operators.scd2 import scd2_apply, scd2_as_of

    t = datetime(2024, 1, 1)
    b1 = spark.createDataFrame([(1, "bronze", t)], "cust int, tier string, updated_at timestamp")
    state = scd2_apply(None, b1, key="cust", attrs=["tier"], ts_col="updated_at")
    fix = spark.createDataFrame([(1, "gold", t)], "cust int, tier string, updated_at timestamp")
    state2 = scd2_apply(state, fix, key="cust", attrs=["tier"], ts_col="updated_at")
    rows = [(r["tier"], r["valid_from"], r["valid_to"]) for r in state2.collect()]
    assert rows == [("gold", t, None)]  # bronze's zero-length version dropped
    assert [r["tier"] for r in scd2_as_of(state2, t).collect()] == ["gold"]


def test_semdedup_works_with_string_ids(spark):
    """Review regression: the pair schema derives from the id column's
    type, so string-keyed corpora dedupe too."""
    from data_ingestion_project_spark.operators.semdedup import semdedup

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [2.0, 0.0]), ("c", [0.0, 1.0])],
        "doc string, embedding array<double>",
    )
    kept = sorted(r["doc"] for r in semdedup(df, threshold=0.99, n_clusters=2,
                                             id_col="doc").collect())
    assert kept == ["a", "c"]  # b is a scaled copy of a -> dropped, keep-first


def test_semdedup_cluster_cap_exact_on_skewed_cluster(spark):
    """The max_cluster_size valve on a deliberately SKEWED clustering
    (one degenerate cluster holding ~92% of the corpus — the
    boilerplate-concentration shape that OOMs an uncapped per-cluster
    matmul at web scale): block sharding must yield EXACTLY the pair
    set of the uncapped path, including a planted duplicate whose two
    ends land in different id-ordered blocks."""
    import math

    from data_ingestion_project_spark.operators.semdedup import semdedup_pairs

    # 60 vectors fanned over 45 degrees around [1,0] -> all cluster 0
    # under the fixed centroids; neighbors within ~18 degrees pair up
    # (cos >= 0.95), so the truth set is a nontrivial band.
    rows = [
        (i, [math.cos(math.radians(i * 0.75)), math.sin(math.radians(i * 0.75))])
        for i in range(60)
    ]
    rows += [(100 + i, [0.01, 1.0 + 0.1 * i]) for i in range(5)]  # small cluster 1
    # planted exact duplicate of id 5, scaled: id 1000 sits in the LAST
    # id-ordered block of cluster 0, id 5 in the first -> the pair is
    # cross-block under max_cluster_size=10
    rows.append((1000, [2 * v for v in rows[5][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]

    def pairset(pairs_df):
        return {
            (r["id_a"], r["id_b"]): round(r["sim"], 9) for r in pairs_df.collect()
        }

    uncapped = pairset(semdedup_pairs(df, threshold=0.95, centroids=cents))
    capped = pairset(
        semdedup_pairs(df, threshold=0.95, centroids=cents, max_cluster_size=10)
    )
    assert capped == uncapped  # the valve is exact, not lossy
    assert (5, 1000) in capped and capped[(5, 1000)] == 1.0  # cross-block pair
    assert len(capped) > 50  # the band truth set is nontrivial


def test_semdedup_top2_assignment_catches_boundary_pair(spark):
    """The paper's boundary caveat: a near-dup pair whose two ends
    fall on opposite sides of a cluster boundary is invisible to
    top-1 within-cluster search; n_assign=2 (top-2 membership) must
    catch it, and a pair discovered in BOTH shared clusters must
    collapse to one row."""
    from data_ingestion_project_spark.operators.semdedup import semdedup, semdedup_pairs

    # centroids on the axes; vectors 2 and 3 straddle the 45-degree
    # boundary (cosine between them ~0.992 >= 0.95) but argmax-assign
    # to different clusters
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.75, 0.66]),
        (3, [0.66, 0.75]),
        (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]

    top1 = {(r["id_a"], r["id_b"]) for r in
            semdedup_pairs(df, threshold=0.95, centroids=cents).collect()}
    assert (2, 3) not in top1  # straddling pair invisible to top-1

    top2_rows = semdedup_pairs(df, threshold=0.95, centroids=cents, n_assign=2).collect()
    top2 = [(r["id_a"], r["id_b"]) for r in top2_rows]
    assert (2, 3) in top2                     # caught by top-2 membership
    assert len(top2) == len(set(top2)) == 1   # double discovery collapsed
    assert 0.95 <= top2_rows[0]["sim"] < 1.0

    kept = sorted(r["vec_id"] for r in
                  semdedup(df, threshold=0.95, centroids=cents, n_assign=2).collect())
    assert kept == [1, 2, 4]  # keep-lowest-id drops 3

    # the valve composes with top-2 (block sharding inside each of the
    # two memberships, still one collapsed row)
    both = semdedup_pairs(
        df, threshold=0.95, centroids=cents, n_assign=2, max_cluster_size=2
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in both] == [(2, 3)]


def test_chunking_coverage_property(spark):
    """Invariant sweep across window/stride combos: every token index
    is covered by >= 1 chunk, chunk starts follow the stride grid, and
    total chunk tokens equal the closed-form overlap accounting."""
    from data_ingestion_project_spark.operators.chunking import chunk_documents

    texts = [" ".join(f"w{i}" for i in range(n)) for n in (1, 5, 48, 64, 65, 100, 130)]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for window, stride in ((64, 48), (64, 64), (10, 3)):
        rows = chunk_documents(df, window=window, stride=stride).collect()
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for doc_id, text in enumerate(texts):
            n = len(text.split())
            chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
            starts = [c["chunk_idx"] * stride for c in chunks]
            expected_starts = list(range(0, ((n - 1) // stride) * stride + 1, stride))
            assert starts == expected_starts, (window, stride, n)
            covered = set()
            for c, s0 in zip(chunks, starts):
                assert c["n_tokens"] == min(window, n - s0)
                covered.update(range(s0, s0 + c["n_tokens"]))
            assert covered == set(range(n)), (window, stride, n)


def test_profile_table_counts_and_rendering(spark):
    """Nulls counted, NULL-ignoring distinct, per-type min/max string
    rendering (ints plain, floats %.4f), and the approximate variant
    keeps the same frame shape."""
    import datetime as dt

    from data_ingestion_project_spark.operators.profiling import profile_table

    df = spark.createDataFrame(
        [
            (1, 2.5, "a", dt.datetime(2024, 1, 2, 3, 4, 5)),
            (2, None, "b", dt.datetime(2024, 6, 7, 8, 9, 10)),
            (3, 10.0, None, None),
            (3, 1.25, "a", None),
        ],
        "k long, x double, s string, ts timestamp",
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["k"]["n_rows"] == 4 and prof["k"]["n_nulls"] == 0
    assert prof["k"]["n_distinct"] == 3
    assert prof["k"]["min_value"] == "1" and prof["k"]["max_value"] == "3"
    assert prof["x"]["n_nulls"] == 1 and prof["x"]["n_distinct"] == 3
    assert prof["x"]["min_value"] == "1.2500" and prof["x"]["max_value"] == "10.0000"
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["n_distinct"] == 2
    assert prof["ts"]["n_nulls"] == 2
    assert prof["ts"]["min_value"] == "2024-01-02 03:04:05"
    approx = {r["column"]: r for r in profile_table(df, approximate=True).collect()}
    assert set(approx) == set(prof)
    assert approx["k"]["n_distinct"] >= 1  # HLL estimate, not exact


def test_zipf_slope_is_zipfian_on_corpus(spark):
    """Word-frequency ranks must fall on a negative log-log slope with
    a strong fit — the corpus-sanity property the query exists to
    check (and a planted uniform-frequency corpus must NOT)."""
    from data_ingestion_project_spark.queries.documents import zipf_slope_by_lang

    rows = zipf_slope_by_lang(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["slope"] < -0.1, r
        assert 0.0 < r["r2"] <= 1.0, r


def test_chunk_dup_stats_counts_planted_repeats(spark):
    """Chunk-level dedup must catch a boilerplate window shared by two
    otherwise-distinct documents, and must NOT count overlap-tax
    near-identical windows (only exact repeats collapse)."""
    import os, tempfile

    from data_ingestion_project_spark.queries.documents import chunk_dup_stats

    boiler = " ".join(f"b{i}" for i in range(64))  # exactly one window
    docs = spark.createDataFrame(
        [
            (1, boiler + " " + " ".join(f"x{i}" for i in range(32)), "en", "w", 0),
            (2, boiler + " " + " ".join(f"y{i}" for i in range(32)), "en", "w", 0),
            (3, " ".join(f"z{i}" for i in range(40)), "en", "w", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        row = chunk_dup_stats(spark, tmp).collect()[0]
    # doc1/doc2: windows at start 0 (boiler, identical) and 48 — doc3: one
    assert row["n_chunks"] == 5
    assert row["n_redundant"] == 1  # exactly the planted boilerplate window
    assert abs(row["dup_rate"] - 0.2) < 1e-9


def test_bpe_encode_applies_learned_merges(spark):
    """The encoder must reproduce hand-computed greedy ranked-merge
    token counts, and training-then-encoding the training corpus must
    compress it (fewer tokens than characters)."""
    from data_ingestion_project_spark.operators.bpe import (
        bpe_encode_token_count,
        bpe_train,
    )

    # merges: (l,o)->lo rank0, (lo,w)->low rank1
    merges = [("l", "o", 99), ("lo", "w", 98)]
    df = spark.createDataFrame([("low low", ), ("lower", ), ("", )], "text string")
    out = {r["text"]: r["bpe_tokens"] for r in bpe_encode_token_count(df, merges).collect()}
    # "low" -> l,o,w,</w> -> lo,w,</w> -> low,</w> = 2 tokens
    assert out["low low"] == 4
    # "lower" -> ... -> low,e,r,</w> = 4 tokens
    assert out["lower"] == 4
    assert out[""] == 0

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(4)],
        "doc_id long, text string",
    )
    learned = bpe_train(docs, n_merges=8, min_pair_count=2)
    assert learned  # corpus has repeated pairs to learn
    enc = bpe_encode_token_count(docs, learned).collect()
    n_chars = len("the quick brown fox jumps over the lazy dog")
    assert all(0 < r["bpe_tokens"] < n_chars for r in enc)


def test_contrastive_pairs_label_semantics(spark):
    """Positives and negatives are disjoint pair sets, labels map to
    scores correctly, and the frame is deterministic across runs."""
    from data_ingestion_project_spark.queries.documents import contrastive_training_pairs

    a = contrastive_training_pairs(spark, "/root/testdata/sf0.001").collect()
    pos = {(r["id_a"], r["id_b"]) for r in a if r["label"] == 1}
    neg = {(r["id_a"], r["id_b"]) for r in a if r["label"] == 0}
    assert pos and neg
    assert not pos & neg
    assert all(r["score"] >= 10 for r in a if r["label"] == 1)
    assert all(r["score"] == 0 for r in a if r["label"] == 0)
    assert all(r["id_a"] < r["id_b"] for r in a)
    b = contrastive_training_pairs(spark, "/root/testdata/sf0.001").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_profile_drift_flags_changes_and_evolution(spark):
    """A stable column stays quiet; a null-rate jump, a range shift,
    and a schema-evolved column each raise the drifted flag."""
    from data_ingestion_project_spark.operators.profiling import (
        profile_drift,
        profile_table,
    )

    old = profile_table(
        spark.createDataFrame([(1, 5.0), (2, 6.0), (3, 7.0), (4, 8.0)], "k long, v double")
    )
    new = profile_table(
        spark.createDataFrame(
            [(1, None), (2, None), (3, 7.0), (4, 99.0), (5, 5.0)],
            "k long, v double",
        ).withColumn("extra", __import__("pyspark").sql.functions.lit("x"))
    )
    d = {r["column"]: r for r in profile_drift(old, new).collect()}
    assert not d["k"]["drifted"] or d["k"]["new_max"] != d["k"]["old_max"]  # k gained a row
    assert d["v"]["drifted"]  # null rate 0 -> 0.4 and max moved
    assert d["v"]["null_delta"] == 2
    assert d["extra"]["drifted"] and d["extra"]["old_rows"] is None  # evolution


def test_append_to_ivf_index_vectors_become_findable(spark, tmp_path):
    """Appending against the frozen quantizer makes new vectors
    immediately probe-visible: an appended near-duplicate of the query
    must surface as the top hit, and existing index files are not
    rewritten."""
    import os

    from data_ingestion_project_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_centroids,
        ivf_probe_topk,
        write_ivf_index,
    )

    base = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(1, 60)],
        "vec_id long, embedding array<float>",
    )
    cents = ivf_centroids(base, n_centroids=4, n_iter=2, seed=7)
    path = str(tmp_path / "ivf")
    write_ivf_index(base, cents, path)
    files_before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }

    q = [2.5, 4.5, 1.0]  # not collinear with any integer-grid base vector
    new = spark.createDataFrame(
        [(1000, [2.5, 4.5, 1.0])], "vec_id long, embedding array<float>"
    )
    append_to_ivf_index(new, cents, path)
    top = ivf_probe_topk(spark, path, q, centroids=cents, k=3, n_probe=4).collect()
    assert top[0]["vec_id"] == 1000 and top[0]["sim"] > 0.999

    files_after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }
    assert files_before <= files_after  # append never rewrites
    assert len(files_after) > len(files_before)


def test_quantile_sketch_merge_equals_direct_and_rank_error(spark):
    """Bottom-k quantile sketch contracts: (1) merging per-day
    sketches equals sketching the whole period directly BIT-FOR-BIT
    (the algebraic mergeability identity); (2) quantile estimates land
    within the O(1/sqrt(K)) rank band of the exact quantile; (3) the
    sketch is a pure function of the data (rerun-stable)."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.quantile_sketch import (
        bottomk_sketches,
        merge_bottomk,
        sketch_quantile,
    )

    # deterministic synthetic: 6000 rows over 3 days, skewed values
    rows = [(i, f"d{i % 3}", float((i * 37) % 1000) ** 1.5) for i in range(6000)]
    df = spark.createDataFrame(rows, "event_id long, day string, value double")
    K = 512

    daily = bottomk_sketches(df, "value", ["day"], "event_id", k=K)
    merged = merge_bottomk(daily, [], k=K).collect()[0]["sketch"]
    direct = (
        bottomk_sketches(df.withColumn("g", F.lit(1)), "value", ["g"], "event_id", k=K)
        .collect()[0]["sketch"]
    )
    assert [tuple(x) for x in merged] == [tuple(x) for x in direct]  # identity
    assert len(merged) == K

    # rank-error floor: estimated p is the exact rank p +- 4/sqrt(K)
    import math
    values = sorted(v for _, _, v in rows)
    n = len(values)
    tol = 4.0 / math.sqrt(K)
    est = (
        merge_bottomk(daily, [], k=K)
        .select(
            sketch_quantile(F.col("sketch"), 0.5).alias("p50"),
            sketch_quantile(F.col("sketch"), 0.9).alias("p90"),
        )
        .collect()[0]
    )
    for p, got in ((0.5, est["p50"]), (0.9, est["p90"])):
        # position of the estimate in the exact CDF
        import bisect
        rank = bisect.bisect_right(values, got) / n
        assert abs(rank - p) <= tol, (p, got, rank, tol)

    # rerun-stability (pure function of data, no RNG)
    again = merge_bottomk(
        bottomk_sketches(df, "value", ["day"], "event_id", k=K), [], k=K
    ).collect()[0]["sketch"]
    assert [tuple(x) for x in again] == [tuple(x) for x in merged]


def test_merge_bottomk_wide_group_two_level_bounded(spark):
    """r13 (VERDICT r12 ask #2): merging 10⁴ input sketches into ONE
    global group — the unbounded-group shape whose single collect_set
    fold held k × inputs structs in one non-spillable aggregation
    buffer.  The two-level salted merge (level-2 state hard-bounded at
    fold_salts·k; level-1 spread over fold_salts tasks) must stay
    bit-identical to the ground-truth bottom-k of the distinct pair
    union — and to the single-fold form kept for bounded-inputs
    callers (fold_salts=None)."""
    from data_ingestion_project_spark.operators.quantile_sketch import (
        merge_bottomk,
    )

    K = 64
    N = 10_000

    def pairs(i: int) -> list[tuple[int, float]]:
        # deterministic; collisions across sketches exercise dedup
        return [
            ((i * 7919 + j * 104729) % 1_000_003 - 500_000, float((i + j) % 97))
            for j in range(8)
        ]

    df = spark.createDataFrame(
        [(pairs(i),) for i in range(N)], "sketch array<struct<h:bigint,v:double>>"
    )
    got = merge_bottomk(df, [], k=K).collect()[0]["sketch"]
    truth = sorted({p for i in range(N) for p in pairs(i)})[:K]
    assert [tuple(x) for x in got] == truth
    single = merge_bottomk(df, [], k=K, fold_salts=None).collect()[0]["sketch"]
    assert [tuple(x) for x in single] == [tuple(x) for x in got]


def test_bottomk_prune_fallback_is_exact_on_duplicate_heavy_groups(spark):
    """The r10 bottom-k pre-prune's EXACT-FALLBACK branch: a group
    with many raw rows but few DISTINCT (hash, value) pairs defeats
    the threshold sizing (counts see 60k rows, dedup leaves 300), so
    the pruned+deduped count comes up short of min(k, n) and the
    group must re-admit its full row set — result identical to the
    ground-truth bottom-k over the distinct pairs. Also pins the
    keep-all small-group path in the same build."""
    import hashlib

    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.quantile_sketch import (
        bottomk_sketches,
    )

    # group 'dup': 60_000 rows but only 300 distinct event ids (each
    # repeated 200x -> identical (h, v) pairs collapse); group 'tiny':
    # 50 rows, below k, exercising the keep-all threshold branch
    rows = [(i % 300, "dup", float(i % 300)) for i in range(60_000)]
    rows += [(1_000_000 + i, "tiny", float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "event_id long, day string, value double")
    K = 1024
    got = {
        r["day"]: [tuple(x) for x in r["sketch"]]
        for r in bottomk_sketches(
            df, "value", ["day"], "event_id", k=K, use_md5=True
        ).collect()
    }
    # ground truth: distinct (md5(event_id), value), sorted, first K
    def truth(pairs):
        dd = sorted({(hashlib.md5(str(e).encode()).hexdigest(), v) for e, v in pairs})
        return dd[:K]

    assert got["dup"] == truth([(i % 300, float(i % 300)) for i in range(60_000)])
    assert len(got["dup"]) == 300  # fallback re-admitted everything
    assert got["tiny"] == truth([(1_000_000 + i, float(i)) for i in range(50)])


def test_bm25_and_rrf_retrieval_sanity(spark):
    """BM25/RRF sanity on the live corpus (the MATH is certified
    value-exactly by the DuckDB oracles — an independent SQL
    implementation; this pins the retrieval-semantics invariants):
    scores strictly ordered with deterministic tie-break, every BM25
    hit actually contains a probe term, and every fused doc carries at
    least one modality rank with the RRF score reproducible from its
    ranks."""
    from data_ingestion_project_spark.queries import all_queries
    from data_ingestion_project_spark.queries.advanced import BM25_TERMS, RRF_C
    from data_ingestion_project_spark.sources.readers import table

    sf = "/root/testdata/sf0.001"
    top = all_queries()["bm25_topk"](spark, sf).collect()
    assert len(top) == 10
    scores = [r["bm25"] for r in top]
    assert scores == sorted(scores, reverse=True)
    assert scores[0] > 0
    hit_ids = [r["doc_id"] for r in top]
    d = table(spark, sf, "documents")
    texts = {
        r["doc_id"]: r["text"]
        for r in d.filter(F.col("doc_id").isin(hit_ids)).collect()
    }
    for i in hit_ids:
        assert any(t in texts[i].lower().split() for t in BM25_TERMS), i

    fused = all_queries()["hybrid_rrf_search"](spark, sf).collect()
    assert len(fused) == 10
    for r in fused:
        assert r["lex_rank"] is not None or r["vec_rank"] is not None
        want = sum(
            1.0 / (RRF_C + rk) for rk in (r["lex_rank"], r["vec_rank"]) if rk is not None
        )
        assert abs(r["rrf"] - want) < 1e-6


def test_bigram_model_separates_templated_from_salad(spark):
    """The bigram LM must be DISCRIMINATIVE (the live corpus's uniform
    vocabulary collapses it to one bucket, so the behavior is pinned on
    a planted corpus): documents made of one repeated high-frequency
    bigram chain score near-zero nats; word-salad documents whose
    bigrams each occur once land in strictly higher buckets."""
    import os
    import tempfile

    from data_ingestion_project_spark.queries.documents import bigram_logprob_buckets

    template = "the cat sat " * 20           # few distinct bigrams, high counts
    salads = [
        " ".join(f"w{i}x{j}" for i in range(30)) for j in range(5)
    ]                                         # every bigram unique
    rows = [(0, template), (1, template)] + [
        (2 + j, s) for j, s in enumerate(salads)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = bigram_logprob_buckets(spark, tmp).collect()
    assert len(out) >= 2  # the model separates the two populations
    by_bucket = {r["nats_bucket"]: r["n_docs"] for r in out}
    low, high = min(by_bucket), max(by_bucket)
    assert by_bucket[low] == 2    # the two templated docs
    assert by_bucket[high] >= 4   # the salads
    assert high - low >= 2        # separated by >= 2 whole nats


def test_entity_golden_records_transitive_closure(spark):
    """ER census semantics: the two planted typo variants of a %20
    supplier differ from EACH OTHER by edit distance 2, so a pairwise
    rule alone never merges them — only transitive closure through the
    original yields the size-3 cluster.  Also pins survivorship: the
    canonical name is the min-suppkey record's (the original, since
    variants get +1M/+2M ids), and blocking: records whose digit keys
    differ never pair, so every base supplier without a planted variant
    stays a singleton."""
    from data_ingestion_project_spark.queries.documents import entity_golden_records

    out = {r["cluster_size"]: r for r in entity_golden_records(spark, "/root/testdata/sf0.001").collect()}
    base = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    n = base.count()
    n20 = base.filter("s_suppkey % 20 = 0").count()
    n10 = base.filter("s_suppkey % 10 = 0").count() - n20
    assert out[1]["n_clusters"] == n - n10 - n20          # untouched singletons
    if n10:
        assert out[2]["n_clusters"] == n10                # original + one variant
        assert out[2]["avg_name_variants"] == 2.0
    if n20:
        assert out[3]["n_clusters"] == n20                # closure through the original
        assert out[3]["avg_name_variants"] == 3.0
        assert out[3]["sample_canonical"].startswith("Supplier#")
        assert "~" not in out[3]["sample_canonical"]      # survivorship picks the original


def test_er_block_cap_refuses_hot_key_keeps_small_blocks(spark):
    """The blocking valve (operators/er.py, round-5 verdict ask #5):
    a planted hot blocking key (everyone shares it) contributes ZERO
    candidate pairs when it exceeds max_block_size, while small blocks
    keep full within-block recall — and golden-record survivorship is
    deterministic min-by."""
    from data_ingestion_project_spark.operators.er import (
        blocking_pairs,
        golden_records,
        match_pairs,
        resolve_clusters,
    )

    rows = (
        # hot block: 40 records share blocking key 'HOT' (a degenerate
        # key — quadratic 780 pairs if joined)
        [(i, "HOT", f"name-{i:03d}") for i in range(40)]
        # two small clean blocks: exact dup pair + near pair
        + [(100, "b1", "alpha"), (101, "b1", "alpha"),
           (200, "b2", "beta0"), (201, "b2", "beta1"),
           # empty-key rows must never pair
           (300, "", "gamma"), (301, "", "gamma")]
    )
    df = spark.createDataFrame(rows, "id long, bkey string, name string")
    cands = blocking_pairs(df, id_col="id", block_col="bkey", max_block_size=8)
    got = {(r.id_a, r.id_b) for r in cands.collect()}
    assert got == {(100, 101), (200, 201)}  # hot + empty blocks refused

    # uncapped: the hot block floods in — the cap is what bounds it
    uncapped = blocking_pairs(df, id_col="id", block_col="bkey").count()
    assert uncapped == 40 * 39 // 2 + 2

    matches = match_pairs(cands, df, id_col="id", text_col="name", max_distance=1)
    assert {(r.id_a, r.id_b) for r in matches.collect()} == {(100, 101), (200, 201)}

    clustered = resolve_clusters(df, matches, id_col="id")
    gold = golden_records(
        clustered, id_col="id", survivor_cols={"canonical": "name"}
    )
    by_cluster = {r.cluster: (r.cluster_size, r.canonical) for r in gold.collect()}
    assert by_cluster[100] == (2, "alpha")   # survivor = min id's name
    assert by_cluster[200] == (2, "beta0")
    assert by_cluster[300] == (1, "gamma")   # singletons survive alone


def test_weighted_sample_tracks_weights_and_merges(spark):
    """A-ES weighted reservoir (operators/sampling.py): across many
    salts, a record with 50x the weight of its peers must be included
    in nearly every draw while an average record appears at roughly
    the k/N base rate (statistical floor — determinism is certified by
    the oracle query instead); and the fold must be MERGEABLE: top-k
    of the union == top-k over concatenated per-partition top-k's."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.sampling import weighted_sample

    N, K = 400, 40
    rows = [(i, 5000 if i == 7 else 100) for i in range(N)]
    df = spark.createDataFrame(rows, "id long, w long")

    salts = [f"s{j}" for j in range(30)]
    heavy_hits = light_hits = 0
    for s in salts:
        ids = {r.id for r in weighted_sample(df, K, "id", "w", salt=s).collect()}
        heavy_hits += 7 in ids
        light_hits += 11 in ids
    assert heavy_hits >= 27  # P(include) ~ 1 - (1-50x share)^... >> 0.9
    assert light_hits <= 15  # base rate ~ K/N = 10%; generous ceiling

    # mergeability: sample(part1 U part2) == top-k of sample(part1) U sample(part2)
    p1 = df.filter(F.col("id") < 200)
    p2 = df.filter(F.col("id") >= 200)
    merged = weighted_sample(
        weighted_sample(p1, K, "id", "w").unionByName(weighted_sample(p2, K, "id", "w")),
        K,
        "id",
        "w",
    )
    direct = weighted_sample(df, K, "id", "w")
    assert sorted(r.id for r in merged.collect()) == sorted(
        r.id for r in direct.collect()
    )


def test_pca_model_invariants_and_projection_decorrelates(spark):
    """PCA over the distributed integer covariance (operators/pca.py):
    the covariance cells must equal a numpy recompute on the quantized
    values exactly; components are orthonormal with DECREASING
    explained-variance ratios; and projecting the data onto them
    yields (numerically) uncorrelated coordinates whose variances are
    the eigenvalues — the linear-algebra contract an oracle cannot
    express."""
    import numpy as np

    from data_ingestion_project_spark.operators.pca import (
        COV_QUANTUM,
        covariance_cells,
        pca_model,
        project,
    )
    from data_ingestion_project_spark.sources.readers import table

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "embeddings")
    X = np.array([r["embedding"] for r in e.select("embedding").collect()], dtype=np.float64)
    Q = np.round(X * COV_QUANTUM)
    n, d = Q.shape

    got = {(r["i"], r["j"]): r["cov_scaled"] for r in covariance_cells(e, dim=d).collect()}
    S = Q.T @ Q
    m = Q.sum(axis=0)
    for i in range(d):
        for j in range(i, d):
            assert got[(i, j)] == int(n * S[i, j] - m[i] * m[j]), (i, j)

    comps, ratio, mean = pca_model(e, dim=d, k=8)
    C = np.array(comps)
    assert np.abs(C @ C.T - np.eye(8)).max() < 1e-9  # orthonormal
    assert all(ratio[i] >= ratio[i + 1] - 1e-12 for i in range(7))  # sorted
    assert 0 < sum(ratio) <= 1 + 1e-9

    P = np.array(
        [r["proj"] for r in project(e, comps, mean).select("proj").collect()]
    )
    pc = np.cov(P, rowvar=False, bias=True)
    off = pc - np.diag(np.diag(pc))
    # components diagonalize the QUANTIZED covariance; against the raw
    # data the residual correlation is the 1e-4 quantization noise
    assert np.abs(off).max() < np.diag(pc).max() * 1e-4  # decorrelated
    # projected variances == top eigenvalues == ratio * trace
    cov_full = np.cov(X, rowvar=False, bias=True)
    tr = np.trace(cov_full)
    # quantization perturbs the spectrum at ~1e-4 relative scale
    assert np.allclose(np.diag(pc) / tr, ratio, atol=1e-3)


def test_bloom_filter_no_false_negatives_fp_near_theory_merge_idempotent(spark):
    """operators/bloom.py: every member is flagged (zero false
    negatives, structural); measured FP rate lands near the
    (1 - e^(-kn/m))^k economics; and the SET-bit representation merges
    by plain union+distinct — idempotently (re-merging a batch cannot
    change the filter, the property the additive CMS needs a fence
    for)."""
    import math

    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.bloom import (
        K_HASHES,
        M_BITS,
        bloom_bits,
        bloom_probe,
    )

    members = spark.range(0, 600).select(F.col("id").alias("key"))
    probes = spark.range(0, 5000).select(F.col("id").alias("key"))
    bits = bloom_bits(members, "key")
    assert bits.count() <= M_BITS
    out = bloom_probe(probes, bits, "key")
    flagged = {r.key for r in out.filter("maybe_member").collect()}
    assert set(range(600)) <= flagged  # zero false negatives
    fp = len(flagged - set(range(600))) / 4400
    theory = (1 - math.exp(-K_HASHES * 600 / M_BITS)) ** K_HASHES
    assert fp <= 3 * theory and fp >= theory / 3  # same order as theory

    # idempotent SET merge: bits(A) U bits(B) == bits(A U B); re-adding
    # a batch is a no-op
    a = spark.range(0, 300).select(F.col("id").alias("key"))
    b = spark.range(300, 600).select(F.col("id").alias("key"))
    merged = bloom_bits(a, "key").union(bloom_bits(b, "key")).distinct()
    direct = bloom_bits(members, "key")
    assert {r.bit for r in merged.collect()} == {r.bit for r in direct.collect()}
    replayed = merged.union(bloom_bits(b, "key")).distinct()
    assert replayed.count() == merged.count()


def test_interval_bucket_join_equals_naive_semantics(spark):
    """operators/interval_join.py: the bucket-decomposed equi-join must
    produce EXACTLY the naive non-equi join's pairs — including
    intervals spanning many buckets, sub-bucket intervals, boundary
    timestamps (inclusive both ends), and zero-match points — with no
    duplicate pairs (each pair meets only in the point's bucket)."""
    import datetime as dt

    from data_ingestion_project_spark.operators.interval_join import (
        interval_bucket_join,
    )

    base = dt.datetime(2024, 1, 1)

    def t(minutes):
        return base + dt.timedelta(minutes=minutes)

    points = spark.createDataFrame(
        [(i, t(m)) for i, m in enumerate([0, 59, 60, 61, 119, 120, 500, 1440, 733])],
        "pid long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (100, t(0), t(120)),      # spans 3 hour-buckets, inclusive ends
            (101, t(30), t(45)),      # sub-bucket
            (102, t(55), t(65)),      # crosses one boundary
            (103, t(2000), t(3000)),  # matches nothing
            (104, t(700), t(1500)),   # long span
        ],
        "iid long, start timestamp, end timestamp",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_bucket_join(
            points, intervals, "ts", "start", "end", bucket_seconds=3600
        ).collect()
    )
    prows = points.collect()
    irows = intervals.collect()
    want = sorted(
        (p.pid, i.iid)
        for p in prows
        for i in irows
        if i.start <= p.ts <= i.end
    )
    assert got == want and len(got) == len(set(got))


def test_covariance_asset_incremental_equals_one_shot_and_fence(spark, tmp_path):
    """Standing covariance asset (operators/pca.py): three fenced batch
    folds must hold exactly the one-shot moments (integer cells equal),
    pca_model_from_asset must equal pca_model over the union (same
    components/ratios/mean), and a replayed batch under the recorded
    fence leaves the table version unchanged."""
    import numpy as np

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.pca import (
        moment_rows,
        pca_model,
        pca_model_from_asset,
        update_covariance_asset,
    )
    from data_ingestion_project_spark.sources.readers import table

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "embeddings").orderBy("vec_id")
    parts = [
        e.filter(f"vec_id % 3 = {r}").select("embedding") for r in range(3)
    ]
    path = str(tmp_path / "cov_asset")
    for bid, p in enumerate(parts):
        update_covariance_asset(spark, path, p, fence=("t", bid))

    want = {
        (r["i"], r["j"]): r["v"]
        for r in moment_rows(e.select("embedding")).collect()
    }
    got = {(r["i"], r["j"]): r["v"] for r in T.read(spark, path).collect()}
    assert got == want  # additive fold == one-shot moments, exactly

    version = T.current_version(path)
    update_covariance_asset(spark, path, parts[2], fence=("t", 2))
    assert T.current_version(path) == version  # replay: no commit

    ca, ra, ma = pca_model_from_asset(spark, path)
    cb, rb, mb = pca_model(e.select("embedding"))
    assert np.allclose(ca, cb, atol=1e-9)
    assert np.allclose(ra, rb, atol=1e-12)
    # asset mean derives from 1e-4-quantized values (pca_model's from
    # raw doubles): per-value error <= half a quantum
    assert np.allclose(ma, mb, atol=5e-5)


def test_nb_margins_planted_separable_corpus(spark):
    """On a separable planted corpus the margin is large and every
    prediction correct; margins are exact ints and match a hand
    computation's sign/scale expectations."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.nb import _scored, margins_from_scored

    rows = []
    for i in range(40):
        # label from i//2 so BOTH classes land in BOTH halves of the
        # doc_id-parity train/test split
        lab = "aa" if (i // 2) % 2 == 0 else "bb"
        word = "alpha" if lab == "aa" else "beta"
        for _ in range(5):
            rows.append((i, lab, word))
    df = spark.createDataFrame(rows, "doc_id long, lang string, word string")
    counts = df.groupBy("doc_id", "lang", "word").agg(F.count(F.lit(1)).alias("c"))
    m = margins_from_scored(_scored(counts, "doc_id", "lang", "word", "c", None)).toPandas()
    assert len(m) == 20  # odd ids are the test half
    assert (m["correct"] == 1).all()
    assert (m["margin_i"] > 10000).all()  # > 1 nat of confidence


def test_nb_ovr_scores_and_auc_brute_force(spark):
    """(1) On a planted separable corpus the one-vs-rest statistic
    ranks every positive above every negative (AUC = 1 by brute-force
    pair count).  (2) On the real sf0.001 corpus the nb_auc_roc
    query's grouped two-level pair counting equals the O(P·N)
    brute-force midrank AUC over the collected statistics exactly."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.nb import _scored, ovr_from_scored
    from data_ingestion_project_spark.queries.documents import nb_auc_roc

    rows = []
    for i in range(40):
        lab = "en" if (i // 2) % 2 == 0 else "xx"
        word = "alpha" if lab == "en" else "beta"
        for _ in range(5):
            rows.append((i, lab, word))
    df = spark.createDataFrame(rows, "doc_id long, lang string, word string")
    counts = df.groupBy("doc_id", "lang", "word").agg(F.count(F.lit(1)).alias("c"))
    st = ovr_from_scored(_scored(counts, "doc_id", "lang", "word", "c", None), "en").toPandas()
    pos = st.loc[st.is_pos == 1, "stat"].to_numpy()
    neg = st.loc[st.is_pos == 0, "stat"].to_numpy()
    assert pos.min() > neg.max()  # separable -> AUC 1

    out = nb_auc_roc(spark, "/root/testdata/sf0.001").toPandas().iloc[0]
    d = ovr_from_scored(
        _scored(_real_counts(spark), "doc_id", "lang", "word", "c", None), "en"
    ).toPandas()
    p = d.loc[d.is_pos == 1, "stat"].to_numpy()[:, None]
    n = d.loc[d.is_pos == 0, "stat"].to_numpy()[None, :]
    conc = int((p > n).sum())
    tied = int((p == n).sum())
    assert (out.n_pos, out.n_neg) == (p.size, n.size)
    assert (out.n_concordant, out.n_tied) == (conc, tied)
    auc = (conc + tied / 2) / (p.size * n.size)
    assert abs(out.auc - auc) < 1e-6


def _real_counts(spark):
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.sources.readers import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    words = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    )
    return words.groupBy("doc_id", "lang", "word").agg(F.count(F.lit(1)).alias("c"))


def test_brand_basket_lift_planted_association(spark, tmp_path):
    """Planted baskets: brands A,B always co-occur (lift 3.0 at these
    counts), brands C,D overlap exactly as independence predicts at
    0.75 — the census must recover both lifts exactly and order the
    associated pair first."""
    import pandas as pd

    from data_ingestion_project_spark.queries.tpch2 import brand_basket_lift

    rows = []
    # parts: 1->A, 2->B, 3->C, 4->D
    for o in range(1, 61):  # A and B together in baskets 1..60
        rows += [(o, 1), (o, 2)]
    for o in range(1, 121):  # C in baskets 1..120
        rows.append((o, 3))
    for o in range(61, 181):  # D in baskets 61..180
        rows.append((o, 4))
    pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"]).to_parquet(
        tmp_path / "lineitem.parquet", index=False
    )
    pd.DataFrame(
        {"p_partkey": [1, 2, 3, 4], "p_brand": ["A", "B", "C", "D"]}
    ).to_parquet(tmp_path / "part.parquet", index=False)
    out = brand_basket_lift(spark, str(tmp_path)).toPandas()
    ab = out[(out.brand_a == "A") & (out.brand_b == "B")].iloc[0]
    cd = out[(out.brand_a == "C") & (out.brand_b == "D")].iloc[0]
    assert ab.n_ab == 60 and ab.n_a == 60 and ab.n_b == 60
    assert ab.lift == 3.0 and ab.confidence_a_b == 1.0
    assert cd.n_ab == 60 and cd.lift == 0.75 and cd.confidence_a_b == 0.5
    assert out.iloc[0].brand_a == "A"  # strongest association ranks first


def test_davies_bouldin_matches_numpy_replay(spark):
    """Replays the DB-index arithmetic in numpy FROM the engine's own
    cluster assignment: per-cluster RMS scatter via the trace identity,
    exact cross-multiplied centroid distances, worst-neighbor ratios,
    and the global index — every output column must reproduce."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.functions.vectors import cosine_similarity
    from data_ingestion_project_spark.queries.embeddings import (
        QUERY_VEC_ID,
        _DB_CENTS,
        _DB_Q,
        embedding_davies_bouldin,
    )
    from data_ingestion_project_spark.sources.readers import table

    SF = "/root/testdata/sf0.001"
    e = table(spark, SF, "embeddings")
    corpus = e.filter(F.col("vec_id") != QUERY_VEC_ID).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cents = (
        corpus.withColumn("__h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__h", "vec_id")
        .limit(_DB_CENTS)
        .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("c"))
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("cent_id").asc()
    )
    inv = (
        corpus.crossJoin(F.broadcast(cents))
        .withColumn("cos", cosine_similarity("v", "c"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("cent_id", "v")
        .toPandas()
    )
    q = {
        cid: np.array(
            [np.trunc(np.array(v) * _DB_Q).astype(np.int64) for v in g["v"]]
        )
        for cid, g in inv.groupby("cent_id")
    }
    s, mu = {}, {}
    for cid, m in q.items():
        n = len(m)
        vnum = int((n * (m.astype(object) ** 2).sum(0) - m.sum(0).astype(object) ** 2).sum())
        s[cid] = math.sqrt(float(vnum)) / n / _DB_Q
        mu[cid] = (m.sum(0).astype(object), n)
    worst = {}
    for i in q:
        best = None
        for j in q:
            if j == i:
                continue
            sqi, ni = mu[i]
            sqj, nj = mu[j]
            dnum = int(((sqi * nj - sqj * ni) ** 2).sum())
            d = math.sqrt(float(dnum)) / (ni * nj) / _DB_Q
            r = (s[i] + s[j]) / d
            if best is None or r > best[0] or (r == best[0] and j < best[1]):
                best = (r, j, d) if best is None or r > best[0] else best
        worst[i] = best
    db = sum(math.trunc(r * 1e9) for r, _, _ in worst.values()) / len(worst) / 1e9

    def rnd(v):
        return math.copysign(math.floor(abs(v) * 1e6 + 0.5) / 1e6, v)

    out = embedding_davies_bouldin(spark, SF).toPandas()
    assert len(out) == len(q)
    for _, row in out.iterrows():
        r, j, d = worst[row.cent_id]
        assert row.n_members == len(q[row.cent_id])
        assert row.scatter_rms == rnd(s[row.cent_id])
        assert row.worst_neighbor == j
        assert row.neighbor_dist == rnd(d)
        assert row.db_term == rnd(r)
        assert row.db_index == rnd(db)


def test_exact_median_matches_builtin_median(spark):
    """operators/quantiles.exact_median == F.median on adversarial
    integer frames: duplicates, negatives straddling bucket
    boundaries, even/odd counts, single-value frames — including a
    bucket_width smaller than the value spread (many buckets) and one
    larger (a single bucket)."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.quantiles import exact_median

    cases = [
        [5],
        [5, 5],
        [1, 2],
        [-3, -1, 0, 7],
        [10, 10, 10, 11],
        [-1_000_001, -1_000_000, -999_999, 1_000_000, 2],  # bucket edges
        list(range(-50, 75)) * 3,
        [2_500_000, -2_500_000, 0, 1],
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        expect = df.agg(F.median("x")).collect()[0][0]
        for bw in (1_000_000, 7, 10**12):
            got = exact_median(df, "x", bucket_width=bw).collect()[0]
            assert got["n"] == len(vals)
            assert got["median"] == expect, (vals, bw, got["median"], expect)


def test_exact_median_empty_input_returns_one_all_null_row(spark):
    """r13 (ADVICE r12 #3): the r12 rewrite changed empty-input
    behavior from an empty frame to ONE all-NULL row (a global agg
    over zero candidate rows).  No current caller feeds an empty
    frame; this pins the contract so a future caller that
    distinguishes 'no rows' by frame emptiness can't be surprised
    silently."""
    from data_ingestion_project_spark.operators.quantiles import exact_median

    df = spark.createDataFrame([], "x long")
    rows = exact_median(df, "x").collect()
    assert len(rows) == 1
    assert rows[0]["n"] is None and rows[0]["median"] is None
