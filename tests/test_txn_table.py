"""Transaction-log table: commit atomicity, snapshot isolation,
conflict detection, crash recovery, time travel, vacuum."""

from __future__ import annotations

import os

import pytest

from data_ingestion_project_spark.operators import txn_table as T


def _df(spark, ids):
    return spark.createDataFrame([(i, f"v{i}") for i in ids], "id long, val string")


def test_create_append_read_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t")
    assert T.create_table(spark, p, _df(spark, [1, 2])) == 0
    assert T.append(spark, p, _df(spark, [3])) == 1
    got = sorted(r["id"] for r in T.read(spark, p).collect())
    assert got == [1, 2, 3]
    assert [m["op"] for m in T.history(p)] == ["create", "append"]


def test_time_travel_and_snapshot_isolation(spark, tmp_path):
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    snapshot = T.read(spark, p, version=0)  # resolved BEFORE the overwrite
    T.overwrite(spark, p, _df(spark, [9, 10]))
    assert sorted(r["id"] for r in T.read(spark, p).collect()) == [9, 10]
    assert [r["id"] for r in T.read(spark, p, version=0).collect()] == [1]
    assert [r["id"] for r in snapshot.collect()] == [1]  # frozen dir list


def test_uncommitted_data_is_invisible(spark, tmp_path):
    """Crash between data write and manifest publish leaves an orphan
    directory that readers never see and vacuum reclaims."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    orphan = T._write_data(_df(spark, [666]), p)  # data written, no commit
    assert [r["id"] for r in T.read(spark, p).collect()] == [1]
    # default grace window: a FRESH unreferenced dir could be an
    # in-flight commit, so vacuum must leave it alone...
    assert T.vacuum(p) == []
    assert os.path.exists(os.path.join(p, orphan))
    # ...and reclaim it once it is older than the window
    removed = T.vacuum(p, min_age_seconds=0)
    assert orphan in removed
    assert not os.path.exists(os.path.join(p, orphan))
    assert [r["id"] for r in T.read(spark, p).collect()] == [1]


def test_stale_read_modify_write_conflicts(spark, tmp_path):
    """Two writers derive from v0; the second commit must raise rather
    than silently drop the first writer's rows."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    base = T.current_version(p)
    T.overwrite(spark, p, _df(spark, [2]), base_version=base)  # writer A wins
    with pytest.raises(T.TxnConflict):
        T.overwrite(spark, p, _df(spark, [3]), base_version=base)  # writer B stale


def test_concurrent_appends_both_land(spark, tmp_path):
    """Appends rebase: simulate the race by pre-writing both data dirs,
    then committing back-to-back — both rows survive."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    T.append(spark, p, _df(spark, [2]))
    T.append(spark, p, _df(spark, [3]))
    assert sorted(r["id"] for r in T.read(spark, p).collect()) == [1, 2, 3]
    assert T.current_version(p) == 2


def test_manifest_publication_is_exclusive(spark, tmp_path):
    """Version-number collision: exactly one _try_commit wins."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    m = {"version": 1, "op": "append", "data_dirs": [], "schema": "{}", "committed_at": 0}
    assert T._try_commit(p, 1, m) is True
    assert T._try_commit(p, 1, m) is False  # loser must retry at v2


def test_merge_upsert_existing_wins_and_idempotent(spark, tmp_path):
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1, 2]))
    batch = spark.createDataFrame([(2, "CHANGED"), (3, "v3")], "id long, val string")
    T.merge_upsert(spark, p, batch, key="id")
    rows = {r["id"]: r["val"] for r in T.read(spark, p).collect()}
    assert rows == {1: "v1", 2: "v2", 3: "v3"}  # existing row 2 wins
    T.merge_upsert(spark, p, batch, key="id")  # idempotent
    assert T.read(spark, p).count() == 3


def test_vacuum_retains_requested_versions(spark, tmp_path):
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    T.overwrite(spark, p, _df(spark, [2]))
    T.overwrite(spark, p, _df(spark, [3]))
    T.vacuum(p, keep_versions=1)
    assert [r["id"] for r in T.read(spark, p).collect()] == [3]
    with pytest.raises(FileNotFoundError):
        T._read_manifest(p, 0)


def _mtimes(path, rels):
    out = {}
    for rel in rels:
        d = os.path.join(path, rel)
        out[rel] = {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}
    return out


def test_merge_update_delete_insert_semantics(spark, tmp_path):
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1, 2, 3]))
    src = spark.createDataFrame([(2, "UPDATED"), (9, "v9")], "id long, val string")
    res = T.merge(spark, p, src, key="id")
    assert res["touched_dirs"] == 1
    rows = {r["id"]: r["val"] for r in T.read(spark, p).collect()}
    assert rows == {1: "v1", 2: "UPDATED", 3: "v3", 9: "v9"}  # update + insert
    # delete matched, no insert
    res = T.merge(
        spark, p, spark.createDataFrame([(1, "x")], "id long, val string"),
        key="id", when_matched="delete", insert_not_matched=False,
    )
    rows = {r["id"]: r["val"] for r in T.read(spark, p).collect()}
    assert rows == {2: "UPDATED", 3: "v3", 9: "v9"}
    assert [m["op"] for m in T.history(p)][-2:] == ["merge", "merge"]


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id long, val string")
    with pytest.raises(ValueError, match="duplicate keys"):
        T.merge(spark, p, dup, key="id")


def test_merge_rewrites_only_touched_directories(spark, tmp_path):
    """The 100 TB property: directories without a matched key are
    carried forward in the manifest byte-identical — their files are
    never rewritten. With stats stamped, non-overlapping directories
    are pruned without even being scanned."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1, 2]))       # dir A: ids 1-2
    T.append(spark, p, _df(spark, [100, 101]))          # dir B: ids 100-101
    T.analyze(spark, p, key="id")
    before = T._read_manifest(p, T.current_version(p))
    assert set(before["stats"]) == set(before["data_dirs"])
    dir_a, dir_b = before["data_dirs"]
    mt_before = _mtimes(p, [dir_a, dir_b])

    src = spark.createDataFrame([(2, "UPDATED")], "id long, val string")
    res = T.merge(spark, p, src, key="id")
    # dir B's key range [100,101] cannot contain id 2: pruned by stats
    assert res["pruned_by_stats"] == 1
    assert res["touched_dirs"] == 1
    after = T._read_manifest(p, T.current_version(p))
    assert dir_b in after["data_dirs"]            # carried forward...
    assert dir_a not in after["data_dirs"]        # ...replaced
    assert _mtimes(p, [dir_b]) == {dir_b: mt_before[dir_b]}  # untouched on disk
    # rewritten dir got fresh stats: a second merge stays analyzed
    assert set(after["stats"]) == set(after["data_dirs"])
    rows = {r["id"]: r["val"] for r in T.read(spark, p).collect()}
    assert rows == {1: "v1", 2: "UPDATED", 100: "v100", 101: "v101"}


def test_merge_conflict_detection(spark, tmp_path):
    """merge commits against the snapshot it read: a writer landing in
    between must surface as TxnConflict, not a lost update."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    base = T.current_version(p)
    T.append(spark, p, _df(spark, [50]))  # concurrent writer lands first
    # replay a merge whose snapshot predates the append
    real_cv = T.current_version
    T.current_version = lambda path: base
    try:
        with pytest.raises(T.TxnConflict):
            T.merge(spark, p, _df(spark, [1]), key="id")
    finally:
        T.current_version = real_cv


def test_merge_base_version_detects_read_fold_window(spark, tmp_path):
    """The read-fold-merge lost-update window: a caller snapshots the
    table, folds source rows against that snapshot, then calls merge.
    Without base_version, merge rebases onto a head a concurrent writer
    advanced IN THAT WINDOW and silently replaces the writer's
    overlapping keys with data folded from the stale snapshot. Passing
    the snapshot version must raise TxnConflict instead (no monkey-
    patching needed — merge's own head read sees the new version)."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    base = T.current_version(p)
    T.append(spark, p, _df(spark, [50]))  # concurrent writer in the window
    with pytest.raises(T.TxnConflict):
        T.merge(spark, p, _df(spark, [1]), key="id", base_version=base)
    # a current snapshot passes
    head = T.current_version(p)
    T.merge(spark, p, _df(spark, [99]), key="id", base_version=head)
    assert sorted(r["id"] for r in T.read(spark, p).collect()) == [1, 50, 99]


def test_merge_all_deletes_leaves_valid_empty_table(spark, tmp_path):
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1, 2]))
    T.merge(spark, p, _df(spark, [1, 2]), key="id",
            when_matched="delete", insert_not_matched=False)
    assert T.read(spark, p).count() == 0
    # and the table stays usable
    T.append(spark, p, _df(spark, [7]))
    assert [r["id"] for r in T.read(spark, p).collect()] == [7]


def test_append_schema_evolution(spark, tmp_path):
    """merge_schema append: new column lands metadata-only — old rows
    read NULL for it, no old file rewritten; un-evolved appends with a
    wrong schema are rejected."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    evolved = spark.createDataFrame([(2, "v2", "en")], "id long, val string, lang string")
    with pytest.raises(ValueError, match="merge_schema"):
        T.append(spark, p, evolved)
    dirs_before = T._read_manifest(p, T.current_version(p))["data_dirs"]
    mt = _mtimes(p, dirs_before)
    T.append(spark, p, evolved, merge_schema=True)
    assert _mtimes(p, dirs_before) == mt  # metadata-only evolution
    rows = {r["id"]: (r["val"], r["lang"]) for r in T.read(spark, p).collect()}
    assert rows == {1: ("v1", None), 2: ("v2", "en")}
    # type conflict is rejected even with merge_schema
    bad = spark.createDataFrame([(3, 7)], "id long, val long")
    with pytest.raises(ValueError, match="schema conflict"):
        T.append(spark, p, bad, merge_schema=True)


def test_diff_versions_change_feed(spark, tmp_path):
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1, 2, 3]))          # v0
    src = spark.createDataFrame([(2, "UPDATED"), (9, "v9")], "id long, val string")
    T.merge(spark, p, src, key="id")                          # v1
    changes = {
        (r["id"], r["val"], r["_change_type"])
        for r in T.diff_versions(spark, p, 0, 1).collect()
    }
    assert changes == {
        (2, "v2", "delete"), (2, "UPDATED", "insert"), (9, "v9", "insert"),
    }
    # self-diff is empty; evolution alone does not spuriously diff
    assert T.diff_versions(spark, p, 1, 1).count() == 0
    T.append(spark, p, spark.createDataFrame([(5, "v5", "en")], "id long, val string, lang string"),
             merge_schema=True)                               # v2
    d = {(r["id"], r["_change_type"]) for r in T.diff_versions(spark, p, 1, 2).collect()}
    assert d == {(5, "insert")}


def test_concurrent_append_race_threads(spark, tmp_path):
    """Genuine racing writers (threads sharing the session): every
    append must land exactly once — the O_EXCL commit loop rebases
    losers onto the winner's version, so no rows are lost and the
    version history is a contiguous sequence."""
    import threading

    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [0]))
    errors = []

    def writer(base):
        try:
            for j in range(2):
                T.append(spark, p, _df(spark, [base + j]))
        except Exception as e:  # pragma: no cover - failure evidence
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(100 * (i + 1),)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    got = sorted(r["id"] for r in T.read(spark, p).collect())
    assert got == sorted([0] + [100 * (i + 1) + j for i in range(4) for j in range(2)])
    assert T.current_version(p) == 8  # create + 8 appends, contiguous


def test_manifest_extras_carry_forward_across_commits(spark, tmp_path):
    """The durability bug class the review caught: stats and the
    streaming batch-id fence must survive UNRELATED commits — one
    plain append dropping the fence would let a replayed micro-batch
    double-apply, and dropping stats would silently lose pruning."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]), extra={"stream_batch_id": 7})
    T.analyze(spark, p, key="id")
    T.append(spark, p, _df(spark, [2]))
    m = T._read_manifest(p, T.current_version(p))
    assert m["stream_batch_id"] == 7          # fence survived the append
    assert m["stats"]                          # stats survived too
    # overwrite replaces every dir: stats pruned to the new dir set
    T.overwrite(spark, p, _df(spark, [9]))
    m = T._read_manifest(p, T.current_version(p))
    assert m["stream_batch_id"] == 7
    assert set(m.get("stats", {})) <= set(m["data_dirs"])


def test_merge_after_schema_evolution(spark, tmp_path):
    """MERGE must read pre-evolution directories aligned to the
    manifest schema (NULL-filled), not crash on the missing column."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1, 2]))
    T.append(
        spark, p,
        spark.createDataFrame([(3, "v3", "en")], "id long, val string, lang string"),
        merge_schema=True,
    )
    src = spark.createDataFrame(
        [(1, "UPDATED", "de"), (4, "v4", "fr")], "id long, val string, lang string"
    )
    T.merge(spark, p, src, key="id")
    rows = {r["id"]: (r["val"], r["lang"]) for r in T.read(spark, p).collect()}
    assert rows == {
        1: ("UPDATED", "de"), 2: ("v2", None), 3: ("v3", "en"), 4: ("v4", "fr"),
    }
    # a source missing the evolved column is rejected, not mangled
    slim = spark.createDataFrame([(2, "x")], "id long, val string")
    with pytest.raises(ValueError, match="does not match table schema"):
        T.merge(spark, p, slim, key="id")


def test_merge_update_expr_additive(spark, tmp_path):
    """Delta-style UPDATE SET expressions: t/s-referencing column
    rewrites, unlisted columns keep the target value."""
    p = str(tmp_path / "t")
    T.create_table(
        spark, p,
        spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], "id long, n long, tag string"),
    )
    src = spark.createDataFrame([(1, 5, "ignored"), (3, 7, "c")], "id long, n long, tag string")
    T.merge(spark, p, src, key="id", update_expr={"n": "t.n + s.n"})
    rows = {r["id"]: (r["n"], r["tag"]) for r in T.read(spark, p).collect()}
    assert rows == {1: (15, "a"), 2: (20, "b"), 3: (7, "c")}  # tag kept from target


def test_merge_allows_null_key_source_rows(spark, tmp_path):
    """A NULL-key source row is not a duplicate key (COUNT DISTINCT
    ignores NULLs); it never matches and lands as an insert."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    src = spark.createDataFrame([(None, "nk"), (1, "UPDATED")], "id long, val string")
    T.merge(spark, p, src, key="id")
    rows = {(r["id"], r["val"]) for r in T.read(spark, p).collect()}
    assert rows == {(1, "UPDATED"), (None, "nk")}


def test_analyze_date_typed_key(spark, tmp_path):
    """Stats stamping must survive non-JSON-native key types (dates
    encode as ISO strings — lexicographic == chronological)."""
    import datetime as dt

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1), (dt.date(2024, 6, 1), 2)], "day date, v long"
    )
    T.create_table(spark, p, df)
    T.append(spark, p, spark.createDataFrame([(dt.date(2025, 3, 1), 3)], "day date, v long"))
    T.analyze(spark, p, key="day")  # must not raise on json.dumps
    m = T._read_manifest(p, T.current_version(p))
    assert all(isinstance(s["lo"], str) for s in m["stats"].values())
    src = spark.createDataFrame([(dt.date(2025, 3, 1), 30)], "day date, v long")
    res = T.merge(spark, p, src, key="day")
    assert res["pruned_by_stats"] == 1  # the 2024-only dir pruned via ISO order
    assert {r["v"] for r in T.read(spark, p).collect()} == {1, 2, 30}


def test_merge_full_row_update_preserves_duplicate_target_rows(spark, tmp_path):
    """N same-key target rows must stay N rows after a full-row update
    (each matched target row is rewritten — Delta MERGE semantics), and
    the full-row and update_expr paths must agree on multiplicity."""
    p1 = str(tmp_path / "t_full")
    dup = spark.createDataFrame(
        [(2, "a"), (2, "b"), (3, "v3")], "id long, val string"
    )
    T.create_table(spark, p1, dup)
    src = spark.createDataFrame([(2, "UPDATED")], "id long, val string")
    T.merge(spark, p1, src, key="id")
    got = sorted((r["id"], r["val"]) for r in T.read(spark, p1).collect())
    assert got == [(2, "UPDATED"), (2, "UPDATED"), (3, "v3")]

    p2 = str(tmp_path / "t_expr")
    T.create_table(spark, p2, dup)
    T.merge(spark, p2, src, key="id", update_expr={"val": "s.val"})
    got2 = sorted((r["id"], r["val"]) for r in T.read(spark, p2).collect())
    assert got2 == got


def test_compact_binpacks_small_dirs_data_identical(spark, tmp_path):
    """compact() must rewrite many small append dirs into one, leave
    the data multiset identical, carry large dirs forward untouched,
    and keep old snapshots readable until vacuum."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1, 2]))
    for i in range(3, 8):
        T.append(spark, p, _df(spark, [i]))
    before = sorted(r["id"] for r in T.read(spark, p).collect())
    head = T.current_version(p)
    n_dirs_before = len(T._read_manifest(p, head)["data_dirs"])
    assert n_dirs_before == 6

    v = T.compact(spark, p)
    assert v == head + 1
    m = T._read_manifest(p, v)
    assert m["op"] == "compact"
    assert len(m["data_dirs"]) == 1  # every dir was tiny → one dir
    assert sorted(r["id"] for r in T.read(spark, p).collect()) == before
    # exactly one coalesced parquet file for KB-scale data
    d = os.path.join(p, m["data_dirs"][0])
    assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1
    # pre-compaction snapshot still reads (dirs not deleted until vacuum)
    assert sorted(r["id"] for r in T.read(spark, p, version=head).collect()) == before


def test_compact_merges_stats_and_skips_large_dirs(spark, tmp_path):
    """Per-dir key-range stats must survive compaction merged
    metadata-only ([min lo, max hi]), and a directory at/above the
    small threshold must be carried forward byte-identical."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, list(range(1, 1001))))  # genuinely bigger
    T.append(spark, p, _df(spark, [5]))
    T.append(spark, p, _df(spark, [9]))
    T.analyze(spark, p, "id")
    m0 = T._read_manifest(p, T.current_version(p))
    big_rel = m0["data_dirs"][0]
    big_bytes = T._dir_bytes(p, big_rel)
    big_mtimes = {
        f: os.path.getmtime(os.path.join(p, big_rel, f))
        for f in os.listdir(os.path.join(p, big_rel))
    }

    # threshold chosen so dir 0 counts as "large" and the other two compact
    v = T.compact(spark, p, small_threshold_bytes=big_bytes)
    assert v is not None
    m = T._read_manifest(p, v)
    assert big_rel in m["data_dirs"] and len(m["data_dirs"]) == 2
    # untouched large dir: same files, same mtimes (no rewrite)
    assert {
        f: os.path.getmtime(os.path.join(p, big_rel, f))
        for f in os.listdir(os.path.join(p, big_rel))
    } == big_mtimes
    (new_rel,) = [r for r in m["data_dirs"] if r != big_rel]
    assert m["stats"][new_rel] == {"key": "id", "lo": 5, "hi": 9}
    assert (m["stats"][big_rel]["lo"], m["stats"][big_rel]["hi"]) == (1, 1000)


def test_compact_noop_below_two_small_dirs(spark, tmp_path):
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    head = T.current_version(p)
    assert T.compact(spark, p) is None  # one dir: nothing to gain
    assert T.current_version(p) == head  # and no empty commit


def test_compact_conflicts_with_concurrent_commit(spark, tmp_path, monkeypatch):
    """A writer that commits between compact's snapshot read and its
    publish must surface as TxnConflict, never a lost update."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    T.append(spark, p, _df(spark, [2]))

    real_write = T._write_data

    def race_then_write(df, path):
        rel = real_write(df, path)
        if not getattr(race_then_write, "raced", False):
            race_then_write.raced = True
            T.append(spark, p, _df(spark, [99]))  # concurrent commit wins
        return rel

    monkeypatch.setattr(T, "_write_data", race_then_write)
    with pytest.raises(T.TxnConflict):
        T.compact(spark, p)
    # the loser's table is intact, winner's row present
    assert sorted(r["id"] for r in T.read(spark, p).collect()) == [1, 2, 99]


def test_write_audit_publish_gates_bad_batches(spark, tmp_path):
    """WAP: a clean batch publishes (metadata-only commit); a dirty
    batch leaves the table bit-identical, reports the violations, and
    its staged orphan is vacuum-reclaimable; double-publish raises."""
    import os

    import pytest

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.wap import write_audit_publish
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    T.create_table(spark, path, spark.createDataFrame([(1, 10.0)], "id long, v double"))
    checks = {"v_positive": F.col("v") > 0, "id_not_null": F.col("id").isNotNull()}

    good = write_audit_publish(
        spark, spark.createDataFrame([(2, 5.0), (3, 1.0)], "id long, v double"),
        path, checks,
    )
    assert good["published"] and good["violations"] == {} and good["n_rows"] == 2
    assert T.read(spark, path).count() == 3

    v_before = T.current_version(path)
    bad = write_audit_publish(
        spark, spark.createDataFrame([(4, -1.0), (None, 2.0)], "id long, v double"),
        path, checks,
    )
    assert not bad["published"]
    assert bad["violations"] == {"v_positive": 1, "id_not_null": 1}
    assert T.current_version(path) == v_before  # table untouched
    assert T.read(spark, path).count() == 3
    staged_full = os.path.join(path, bad["staged_dir"])
    assert os.path.isdir(staged_full)  # kept for debugging...
    removed = T.vacuum(path, min_age_seconds=0.0)
    assert bad["staged_dir"] in removed  # ...reclaimed as an orphan

    with pytest.raises(ValueError, match="already published"):
        T.publish_staged(spark, path, good["staged_dir"])


def test_concurrent_staged_publishes_both_commit(spark, tmp_path):
    """Two writers staging independently then publishing concurrently
    (same base version) must BOTH land: publish is an add-only commit,
    so the loser of the version race retries and set-unions cleanly —
    no lost update, no double reference."""
    from data_ingestion_project_spark.operators import txn_table as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, spark.createDataFrame([(0,)], "id long"))
    rel_a = T.stage(spark, path, spark.createDataFrame([(1,), (2,)], "id long"))
    rel_b = T.stage(spark, path, spark.createDataFrame([(3,)], "id long"))
    va = T.publish_staged(spark, path, rel_a)
    vb = T.publish_staged(spark, path, rel_b)
    assert vb == va + 1
    assert sorted(r["id"] for r in T.read(spark, path).collect()) == [0, 1, 2, 3]
    dirs = T._read_manifest(path, vb)["data_dirs"]
    assert dirs.count(rel_a) == 1 and dirs.count(rel_b) == 1


def test_fence_merge_survives_commit_retry(spark, tmp_path, monkeypatch):
    """A publish that loses the O_EXCL race must re-read the manifest
    and merge against the WINNER's fences — baking attempt 1's stale
    carried map into extra would roll the other stream's fence
    backward and reopen the replay window."""
    from data_ingestion_project_spark.operators import txn_table as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, spark.createDataFrame([(0,)], "id long"))
    rel_a = T.stage(spark, path, spark.createDataFrame([(1,)], "id long"))
    T.publish_staged(spark, path, rel_a, extra={"stream_fences": {"A": 5}})

    rel_b = T.stage(spark, path, spark.createDataFrame([(2,)], "id long"))
    rel_c = T.stage(spark, path, spark.createDataFrame([(3,)], "id long"))
    real = T._try_commit
    state = {"raced": False}

    def flaky(p, version, manifest):
        if not state["raced"]:
            state["raced"] = True
            # interleaved winner: stream A advances its fence to 6
            T.publish_staged(spark, path, rel_c, extra={"stream_fences": {"A": 6}})
            return False  # loser must re-read and re-merge
        return real(p, version, manifest)

    monkeypatch.setattr(T, "_try_commit", flaky)
    T.publish_staged(spark, path, rel_b, extra={"stream_fences": {"B": 0}})
    fences = T._read_manifest(path, T.current_version(path))["stream_fences"]
    assert fences == {"A": 6, "B": 0}  # A's fence NOT rolled back to 5


def test_append_fence_atomic_with_commit(spark, tmp_path, monkeypatch):
    """The zombie foreachBatch append/append TOCTOU (round-8 ADVICE):
    two executions of the SAME (fence_id, batch_id) race — both pass
    any caller-side pre-check, both reach append. The loser of the
    O_EXCL manifest race must raise FenceApplied on its rebase attempt
    instead of committing the additive rows a second time."""
    from data_ingestion_project_spark.operators import txn_table as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, spark.createDataFrame([(0,)], "id long"))

    real = T._try_commit
    state = {"raced": False}

    def flaky(p, version, manifest):
        if not state["raced"]:
            state["raced"] = True
            # interleaved winner: the OTHER execution of batch 3
            # commits its identical increment rows first
            T.append(
                spark,
                path,
                spark.createDataFrame([(1,)], "id long"),
                fence=("stream-x", 3),
            )
            return False  # loser rebases — and must now see the fence
        return real(p, version, manifest)

    monkeypatch.setattr(T, "_try_commit", flaky)
    import pytest as _pytest

    with _pytest.raises(T.FenceApplied):
        T.append(
            spark,
            path,
            spark.createDataFrame([(1,)], "id long"),
            fence=("stream-x", 3),
        )
    monkeypatch.setattr(T, "_try_commit", real)
    # exactly ONE application of batch 3 landed
    assert sorted(r["id"] for r in T.read(spark, path).collect()) == [0, 1]
    fences = T._read_manifest(path, T.current_version(path))["stream_fences"]
    assert fences == {"stream-x": 3}
    # a LATER batch under the same fence still appends
    T.append(spark, path, spark.createDataFrame([(2,)], "id long"), fence=("stream-x", 4))
    # an UNRELATED stream's fence is independent
    T.append(spark, path, spark.createDataFrame([(9,)], "id long"), fence=("stream-y", 0))
    assert sorted(r["id"] for r in T.read(spark, path).collect()) == [0, 1, 2, 9]
    fences = T._read_manifest(path, T.current_version(path))["stream_fences"]
    assert fences == {"stream-x": 4, "stream-y": 0}


def test_fenced_append_replay_race_noops(spark, tmp_path, monkeypatch):
    """incremental_dedup._fenced_append under the same interleaving:
    the caller-facing helper must swallow FenceApplied and no-op (the
    replayed batch's rows are already in the table), leaving the table
    bit-identical to a single application."""
    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.incremental_dedup import _fenced_append

    path = str(tmp_path / "t")
    rows = spark.createDataFrame([(10,), (11,)], "id long")
    _fenced_append(spark, path, rows, ("s", 0))  # creates the table

    real = T._try_commit
    state = {"raced": False}

    def flaky(p, version, manifest):
        if not state["raced"]:
            state["raced"] = True
            _fenced_append(
                spark, path, spark.createDataFrame([(12,)], "id long"), ("s", 1)
            )
            return False
        return real(p, version, manifest)

    monkeypatch.setattr(T, "_try_commit", flaky)
    # this execution of batch 1 loses the race — must silently no-op
    _fenced_append(spark, path, spark.createDataFrame([(12,)], "id long"), ("s", 1))
    monkeypatch.setattr(T, "_try_commit", real)
    assert sorted(r["id"] for r in T.read(spark, path).collect()) == [10, 11, 12]


def test_publish_staged_fence_atomic(spark, tmp_path, monkeypatch):
    """The gated-ingestion publish path closes the same TOCTOU: two
    zombie publishes of one micro-batch — the loser raises
    FenceApplied and its staged dir stays an unpublished orphan."""
    from data_ingestion_project_spark.operators import txn_table as T

    path = str(tmp_path / "t")
    T.create_table(spark, path, spark.createDataFrame([(0,)], "id long"))
    rel_a = T.stage(spark, path, spark.createDataFrame([(1,)], "id long"))
    rel_b = T.stage(spark, path, spark.createDataFrame([(1,)], "id long"))

    real = T._try_commit
    state = {"raced": False}

    def flaky(p, version, manifest):
        if not state["raced"]:
            state["raced"] = True
            T.publish_staged(spark, path, rel_a, fence=("ck", 7))
            return False
        return real(p, version, manifest)

    monkeypatch.setattr(T, "_try_commit", flaky)
    import pytest as _pytest

    with _pytest.raises(T.FenceApplied):
        T.publish_staged(spark, path, rel_b, fence=("ck", 7))
    monkeypatch.setattr(T, "_try_commit", real)
    assert sorted(r["id"] for r in T.read(spark, path).collect()) == [0, 1]
    assert rel_b not in T._read_manifest(path, T.current_version(path))["data_dirs"]


def _cells(spark, pairs):
    return spark.createDataFrame(pairs, "k long, n long")


_ADD = {"n": "t.n + s.n"}


def _folded(spark, path):
    return {r["k"]: r["n"] for r in T.read(spark, path).collect()}


def test_fold_merge_lost_create_race(spark, tmp_path, monkeypatch):
    """fold_merge loses the create race to a winner that recorded a
    fence: a zombie of the SAME batch must no-op, a NEWER batch must be
    added exactly once on top of the winner."""
    real_create = T.create_table

    def racing_create(spark_, p, df, extra=None):
        # the concurrent winner lands first, recording batch 0...
        winner = _cells(spark_, [(1, 10), (2, 20)])
        real_create(spark_, p, winner, extra={"stream_fences": {"s": 0}})
        # ...so this process's create loses the race
        raise FileExistsError(p)

    monkeypatch.setattr(T, "create_table", racing_create)
    same = str(tmp_path / "same")
    T.fold_merge(spark, same, _cells(spark, [(1, 10), (2, 20)]), "k", _ADD, ("s", 0))
    assert _folded(spark, same) == {1: 10, 2: 20}  # winner's cells, once
    assert T.current_version(same) == 0  # no merge commit

    newer = str(tmp_path / "newer")
    T.fold_merge(spark, newer, _cells(spark, [(1, 1), (3, 3)]), "k", _ADD, ("s", 1))
    assert _folded(spark, newer) == {1: 11, 2: 20, 3: 3}
    assert T.fence_applied(newer, ("s", 1)) and not T.fence_applied(newer, ("s", 2))


def test_fold_merge_gives_up_under_contention(spark, tmp_path, monkeypatch):
    """A merge that always meets a concurrent commit makes the fold
    raise TxnConflict after FOLD_ATTEMPTS attempts, table untouched."""
    p = str(tmp_path / "t")
    T.fold_merge(spark, p, _cells(spark, [(1, 1)]), "k", _ADD, ("s", 0))
    calls = []

    def contended_merge(*args, **kwargs):
        calls.append(kwargs["base_version"])
        raise T.TxnConflict("concurrent writer")

    monkeypatch.setattr(T, "merge", contended_merge)
    with pytest.raises(T.TxnConflict, match="gave up"):
        T.fold_merge(spark, p, _cells(spark, [(1, 1)]), "k", _ADD, ("s", 1))
    assert calls == [0] * T.FOLD_ATTEMPTS
    assert _folded(spark, p) == {1: 1}


def test_fold_retries_update_at_new_head(spark, tmp_path):
    """An update that meets a concurrent commit (TxnConflict) is re-run
    against the head that commit made, and its rows land once."""
    p = str(tmp_path / "t")
    T.create_table(spark, p, _df(spark, [1]))
    bases = []

    def update(base):
        bases.append(base)
        if len(bases) == 1:
            T.append(spark, p, _df(spark, [2]))  # the racer lands first
        return T.append(spark, p, _df(spark, [3]), base_version=base)

    assert T.fold(spark, p, lambda: _df(spark, [0]), update) == 2
    assert bases == [0, 1]
    assert sorted(r["id"] for r in T.read(spark, p).collect()) == [1, 2, 3]


def test_merge_upsert_creates_absent_table(spark, tmp_path):
    """With no table, merge_upsert creates one from the batch with its
    duplicate keys dropped."""
    p = str(tmp_path / "t")
    batch = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "id long, val string")
    assert T.merge_upsert(spark, p, batch, key="id") == 0
    assert sorted(r["id"] for r in T.read(spark, p).collect()) == [1, 2]


def test_merge_upsert_lost_create_race_keeps_winner(spark, tmp_path, monkeypatch):
    """A merge_upsert that loses the create race rebases onto the
    winner: the winner's rows win on shared keys, new keys are added."""
    real_create = T.create_table

    def racing_create(spark_, p, df, extra=None):
        real_create(spark_, p, _df(spark_, [1, 2]), extra=extra)
        raise FileExistsError(p)

    monkeypatch.setattr(T, "create_table", racing_create)
    p = str(tmp_path / "t")
    batch = spark.createDataFrame([(2, "LOSER"), (3, "v3")], "id long, val string")
    assert T.merge_upsert(spark, p, batch, key="id") == 1
    rows = {r["id"]: r["val"] for r in T.read(spark, p).collect()}
    assert rows == {1: "v1", 2: "v2", 3: "v3"}


def test_one_optimistic_concurrency_loop():
    """Only txn_table handles a lost create race or counts fold
    attempts; every other read-fold-commit goes through T.fold, and the
    dedup pass retries through it instead of calling itself."""
    import ast
    import pathlib

    pkg = pathlib.Path(T.__file__).resolve().parents[1]
    owners = {
        str(f.relative_to(pkg))
        for f in pkg.rglob("*.py")
        if "except (FileExistsError" in f.read_text() or "FOLD_ATTEMPTS" in f.read_text()
    }
    assert owners == {"operators/txn_table.py"}

    tree = ast.parse((pkg / "operators" / "incremental_dedup.py").read_text())
    (fn,) = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "dedup_batch_against_index"
    ]
    called = {
        n.func.id for n in ast.walk(fn) if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }
    assert "dedup_batch_against_index" not in called


def test_fence_applied_rule(spark, tmp_path):
    """Fence id None reads the table-global scalar fence. A named
    fence reads the per-stream map; on a table written before that map
    existed, the scalar fence answers for it, until a fenced commit
    writes the map."""
    p = str(tmp_path / "t")
    assert not T.fence_applied(p, ("a", 0))  # no table
    T.create_table(spark, p, _df(spark, [1]), extra={"stream_batch_id": 3})
    assert T.fence_applied(p, (None, 3)) and not T.fence_applied(p, (None, 4))
    assert T.fence_applied(p, ("a", 3)) and not T.fence_applied(p, ("a", 4))
    assert not T.fence_applied(p, None)
    T.append(spark, p, _df(spark, [2]), fence=("a", 4))
    assert T.fence_applied(p, ("a", 4))
    assert not T.fence_applied(p, ("b", 0))  # the map now answers
    assert T.fence_applied(p, (None, 3))  # scalar carried forward
    assert T.fence_applied(p, ("a", 3), version=0)  # snapshot read
