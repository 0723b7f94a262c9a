"""Structured Streaming tests: ingestion stream (foreachBatch upsert)
and watermarked window builders, on tiny local file streams."""

from __future__ import annotations

import json

import pytest

from data_ingestion_project_spark.functions.crypto import CryptoKeys
from data_ingestion_project_spark.streaming.ingest import start_ingestion_stream
from data_ingestion_project_spark.streaming.windows import (
    session_window_stats,
    tumbling_counts,
)


def _write_batch(input_dir, name: str, users: list[dict]) -> None:
    (input_dir / name).write_text("\n".join(json.dumps(u) for u in users))


def test_streaming_ingestion_upserts_per_microbatch(spark, keys, tmp_path, batch1, batch3_half_new):
    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    table = str(tmp_path / "users.parquet")
    _write_batch(input_dir, "b1.json", batch1)

    q = start_ingestion_stream(
        spark, str(input_dir), table, str(tmp_path / "ckpt"), keys
    )
    try:
        q.processAllAvailable()
        assert spark.read.parquet(table).count() == 10

        # second micro-batch: 5 dupes (mutated) + 5 fresh → 15, old wins
        _write_batch(input_dir, "b2.json", batch3_half_new)
        q.processAllAvailable()
        tbl = spark.read.parquet(table)
        assert tbl.count() == 15
        assert "CHANGED" not in {r["name.last"] for r in tbl.collect()}
    finally:
        q.stop()


def test_tumbling_counts_on_stream(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01T10:05:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T10:55:00", "user_id": 1, "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01T11:05:00", "user_id": 2, "event_type": "view", "value": 3.0},
    ]
    (src / "e1.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, event_type string, value double")
        .json(str(src))
    )
    out = tumbling_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("select * from tumbling_test").collect()
        }
        assert got == {(10, "click"): (2, 3.0), (11, "view"): (1, 3.0)}
    finally:
        q.stop()


def test_session_window_on_stream(spark, tmp_path):
    src = tmp_path / "events_s"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T10:10:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T12:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
    ]
    (src / "e1.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, event_type string, value double")
        .json(str(src))
    )
    out = session_window_stats(stream, gap="30 minutes", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows_out = spark.sql("select * from session_test order by session_start").collect()
        assert [r["n_events"] for r in rows_out] == [2, 1]
    finally:
        q.stop()


def test_stateful_running_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: state must accumulate across micro-batches
    (file drops), not reset per batch."""
    from data_ingestion_project_spark.streaming.stateful import running_user_totals

    src = tmp_path / "events_state"
    src.mkdir()
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = running_user_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("state_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .start()
    )
    try:
        rows1 = [
            {"ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "click", "value": 2.0},
            {"ts": "2024-01-01T10:01:00", "user_id": 1, "event_type": "click", "value": 3.0},
            {"ts": "2024-01-01T10:02:00", "user_id": 2, "event_type": "view", "value": 1.0},
        ]
        (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
        q.processAllAvailable()
        # second batch touches user 1 again: totals must include batch 1
        rows2 = [{"ts": "2024-01-01T11:00:00", "user_id": 1, "event_type": "click", "value": 5.0}]
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
        q.processAllAvailable()
        latest = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.sql(
                "select * from state_test"
            ).collect()
        }
        # memory sink in update mode appends each emission; the LAST
        # emission per user carries the lifetime totals
        emissions_u1 = [
            (r["n_events"], r["total_value"])
            for r in spark.sql("select * from state_test where user_id = 1").collect()
        ]
        assert (3, 10.0) in emissions_u1  # 2 events (5.0) then +1 event (+5.0)
        assert latest[2] == (1, 1.0)
    finally:
        q.stop()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data handling: in append mode a window only emits once the
    watermark passes it, and rows arriving later than the watermark
    bound are dropped from state — the property that keeps streaming
    state finite."""
    src = tmp_path / "late_events"
    src.mkdir()
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = tumbling_counts(stream, window="10 minutes", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .start()
    )
    try:
        b1 = [
            {"ts": "2024-01-01T10:05:00", "user_id": 1, "event_type": "click", "value": 1.0},
            # event at 11:00 advances the watermark to 10:50 → the 10:00
            # window closes and emits
            {"ts": "2024-01-01T11:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
        ]
        (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
        q.processAllAvailable()
        # a LATE row for the already-closed 10:00 window must be dropped
        (src / "b2.json").write_text(
            json.dumps({"ts": "2024-01-01T10:06:00", "user_id": 2, "event_type": "click", "value": 9.0})
        )
        q.processAllAvailable()
        # advance watermark far enough to flush everything still open
        (src / "b3.json").write_text(
            json.dumps({"ts": "2024-01-01T12:00:00", "user_id": 1, "event_type": "click", "value": 1.0})
        )
        q.processAllAvailable()
        ten_oclock = [
            r for r in spark.sql("select * from late_test").collect()
            if (r["window_start"].hour, r["window_start"].minute) == (10, 0)
        ]
        # exactly ONE emission for the 10:00 window, without the late
        # row's count or value (a re-emitted duplicate row would slip
        # through a dict keyed on window_start)
        assert len(ten_oclock) == 1
        assert ten_oclock[0]["n_events"] == 1
        assert ten_oclock[0]["sum_value"] == 1.0  # late row carried 9.0
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate event_ids inside the
    watermark horizon are dropped across micro-batches."""
    from data_ingestion_project_spark.streaming.ingest import dedup_stream

    src = tmp_path / "dup_events"
    src.mkdir()
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = dedup_stream(stream, key_cols=["event_id"], watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .start()
    )
    try:
        (src / "b1.json").write_text("\n".join([
            json.dumps({"event_id": 1, "ts": "2024-01-01T10:00:00", "value": 1.0}),
            json.dumps({"event_id": 1, "ts": "2024-01-01T10:00:05", "value": 2.0}),  # dup in-batch
            json.dumps({"event_id": 2, "ts": "2024-01-01T10:01:00", "value": 3.0}),
        ]))
        q.processAllAvailable()
        # replayed delivery in a later micro-batch, still within watermark
        (src / "b2.json").write_text(
            json.dumps({"event_id": 1, "ts": "2024-01-01T10:10:00", "value": 9.0})
        )
        q.processAllAvailable()
        rows = spark.sql("select event_id, count(*) n from dedup_test group by 1").collect()
        counts = {r["event_id"]: r["n"] for r in rows}
        assert counts == {1: 1, 2: 1}  # each key emitted exactly once
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Purchases attribute to same-user clicks within the 30-minute lag;
    clicks outside the interval or from other users never match."""
    from data_ingestion_project_spark.streaming.joins import purchase_click_attribution

    schema = "ts timestamp, user_id long, event_type string, value double"
    clicks_dir = tmp_path / "clicks"
    purchases_dir = tmp_path / "purchases"
    clicks_dir.mkdir()
    purchases_dir.mkdir()
    clicks = [
        {"ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "click", "value": 0.0},
        {"ts": "2024-01-01T10:20:00", "user_id": 1, "event_type": "click", "value": 0.0},
        # outside the 30-minute lag of u1's purchase
        {"ts": "2024-01-01T09:00:00", "user_id": 1, "event_type": "click", "value": 0.0},
        # different user
        {"ts": "2024-01-01T10:25:00", "user_id": 2, "event_type": "click", "value": 0.0},
    ]
    purchases = [
        {"ts": "2024-01-01T10:30:00", "user_id": 1, "event_type": "purchase", "value": 9.5},
    ]
    (clicks_dir / "c.json").write_text("\n".join(json.dumps(r) for r in clicks))
    (purchases_dir / "p.json").write_text("\n".join(json.dumps(r) for r in purchases))

    out = purchase_click_attribution(
        spark.readStream.schema(schema).json(str(clicks_dir)),
        spark.readStream.schema(schema).json(str(purchases_dir)),
        max_lag="30 minutes",
        watermark="1 hour",
    )
    q = out.writeStream.format("memory").queryName("ssj_test").outputMode("append").start()
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from ssj_test order by click_ts").collect()
        assert [(r["user_id"], r["click_ts"].minute) for r in rows] == [(1, 0), (1, 20)]
        assert all(r["purchase_value"] == 9.5 for r in rows)
    finally:
        q.stop()


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    from data_ingestion_project_spark.streaming.joins import enrich_with_dimension

    src = tmp_path / "enrich_events"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T10:01:00", "user_id": 3, "event_type": "click", "value": 1.0},
    ]
    (src / "e.json").write_text("\n".join(json.dumps(r) for r in rows))
    dim = spark.createDataFrame([(1, "gold"), (2, "basic")], "user_id long, tier string")
    stream = spark.readStream.schema(
        "ts timestamp, user_id long, event_type string, value double"
    ).json(str(src))
    q = (
        enrich_with_dimension(stream, dim)
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["user_id"]: r["tier"] for r in spark.sql("select * from enrich_test").collect()}
        assert got == {1: "gold", 3: None}  # left join keeps unmatched stream rows
    finally:
        q.stop()


def test_running_counts_exactly_once_under_replay(spark, tmp_path):
    """Additive aggregate sink with batch-id fencing: reprocessing the
    same input (fresh checkpoint, same table) must NOT double-count —
    the manifest fence turns replayed micro-batches into no-ops."""
    from data_ingestion_project_spark.streaming.ingest import start_running_count_stream

    src = tmp_path / "ev"
    src.mkdir()
    table = str(tmp_path / "counts_txn")

    def _start(ckpt):
        events = (
            spark.readStream.schema("user_id long, event_type string")
            .json(str(src))
        )
        return start_running_count_stream(spark, events, table, str(tmp_path / ckpt))

    rows1 = [{"user_id": 1, "event_type": "click"}] * 3 + [{"user_id": 2, "event_type": "view"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    q = _start("ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    (src / "b2.json").write_text("\n".join(json.dumps({"user_id": 1, "event_type": "click"}) for _ in range(2)))
    q = _start("ckpt")  # resume same checkpoint: only b2 is new
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from data_ingestion_project_spark.operators import txn_table as T

    counts = {r["user_id"]: r["n_events"] for r in T.read(spark, table).collect()}
    assert counts == {1: 5, 2: 1}

    # crash-replay simulation: FRESH checkpoint, same table — Spark
    # re-delivers every file; the fence must absorb all of it
    q = _start("ckpt_replayed")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    counts = {r["user_id"]: r["n_events"] for r in T.read(spark, table).collect()}
    assert counts == {1: 5, 2: 1}  # unchanged — no double counting


def test_stream_stream_left_outer_emits_unmatched_on_watermark(spark, tmp_path):
    """leftOuter interval join: a purchase with no qualifying click must
    surface with NULL click columns — but only after the joint
    watermark passes the end of its join window (outer emission is
    delayed by construction; until then the row might still match)."""
    from data_ingestion_project_spark.streaming.joins import purchase_click_attribution

    schema = "ts timestamp, user_id long, event_type string, value double"
    clicks_dir = tmp_path / "clicks"
    purchases_dir = tmp_path / "purchases"
    clicks_dir.mkdir()
    purchases_dir.mkdir()
    (clicks_dir / "c1.json").write_text(json.dumps(
        {"ts": "2024-01-01T10:20:00", "user_id": 1, "event_type": "click", "value": 0.0}
    ))
    (purchases_dir / "p1.json").write_text("\n".join(json.dumps(r) for r in [
        {"ts": "2024-01-01T10:30:00", "user_id": 1, "event_type": "purchase", "value": 9.5},
        {"ts": "2024-01-01T10:31:00", "user_id": 3, "event_type": "purchase", "value": 7.0},
    ]))

    out = purchase_click_attribution(
        spark.readStream.schema(schema).json(str(clicks_dir)),
        spark.readStream.schema(schema).json(str(purchases_dir)),
        max_lag="30 minutes",
        watermark="1 hour",
        join_type="leftOuter",
    )
    q = (
        out.writeStream.format("memory").queryName("ssj_outer")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {r["user_id"]: r["click_ts"] for r in spark.sql("select * from ssj_outer").collect()}
        assert 3 not in got  # outer result held back: might still match

        # advance BOTH watermarks (joint watermark = min of the inputs)
        # well past u3's join window
        hb = {"ts": "2024-01-01T14:00:00", "event_type": "hb", "value": 0.0}
        (clicks_dir / "c2.json").write_text(json.dumps({**hb, "user_id": 90}))
        (purchases_dir / "p2.json").write_text(json.dumps({**hb, "user_id": 91}))
        q.processAllAvailable()
        rows = spark.sql("select * from ssj_outer").collect()
        by_user = {r["user_id"]: r for r in rows}
        assert by_user[1]["click_ts"] is not None       # matched pair
        assert by_user[3]["click_ts"] is None           # unmatched: nulls
        assert by_user[3]["purchase_value"] == 7.0
    finally:
        q.stop()


def test_sessions_finalized_on_event_time_timeout(spark, tmp_path):
    """closed_user_sessions emits a session exactly once, when the
    watermark passes last_event + gap — driven by WATERMARK progress,
    not by more data arriving for that user."""
    from data_ingestion_project_spark.streaming.stateful import closed_user_sessions

    src = tmp_path / "sess_ev"
    src.mkdir()
    schema = "ts timestamp, user_id long, event_type string, value double"
    rows = [  # sub-second offsets: state must carry ms, not floor to seconds
        {"ts": "2024-01-01T10:00:00.250", "user_id": 1, "event_type": "click", "value": 0.0},
        {"ts": "2024-01-01T10:10:00.750", "user_id": 1, "event_type": "click", "value": 0.0},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))

    out = closed_user_sessions(
        spark.readStream.schema(schema).json(str(src)), gap_minutes=30
    )
    q = (
        out.writeStream.format("memory").queryName("closed_sessions")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("select * from closed_sessions").count() == 0  # still open

        # another user's much later event advances the watermark past
        # u1's last event + gap; u1's session must close WITHOUT any
        # new u1 data
        (src / "b2.json").write_text(json.dumps(
            {"ts": "2024-01-01T12:00:00", "user_id": 2, "event_type": "click", "value": 0.0}
        ))
        q.processAllAvailable()
        q.processAllAvailable()  # timeout fires on the batch AFTER the watermark moves
        rows = spark.sql("select * from closed_sessions").collect()
        assert [(r["user_id"], r["n_events"]) for r in rows] == [(1, 2)]
        r = rows[0]
        assert r["session_start"].minute == 0 and r["session_end"].minute == 10
        # millisecond precision survives state round-trip (ADVICE r2:
        # second-flooring fired the timeout up to ~1 s early and
        # truncated the session bounds)
        assert r["session_start"].microsecond == 250_000
        assert r["session_end"].microsecond == 750_000
    finally:
        q.stop()


def test_scd2_dimension_stream_versions_across_microbatches(spark, tmp_path):
    """Streaming SCD2 maintenance: versions mint only on change across
    micro-batches, history lands in the txn table, and a replayed
    batch (processAllAvailable again) leaves the state identical —
    idempotence without a batch-id fence."""
    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.streaming.ingest import start_scd2_dimension_stream

    src = tmp_path / "dim_updates"
    src.mkdir()
    table_path = str(tmp_path / "dim_scd2")
    stream = (
        spark.readStream.schema("cust long, tier string, updated_at timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = start_scd2_dimension_stream(
        spark, stream, table_path, str(tmp_path / "ckpt_scd2"),
        key="cust", attrs=["tier"], ts_col="updated_at",
    )
    try:
        (src / "b1.json").write_text(
            '{"cust": 1, "tier": "bronze", "updated_at": "2024-01-01T00:00:00"}\n'
            '{"cust": 2, "tier": "silver", "updated_at": "2024-01-01T00:00:00"}\n'
        )
        q.processAllAvailable()
        (src / "b2.json").write_text(
            '{"cust": 1, "tier": "gold", "updated_at": "2024-01-05T00:00:00"}\n'
            '{"cust": 2, "tier": "silver", "updated_at": "2024-01-05T00:00:00"}\n'
        )
        q.processAllAvailable()
        rows = {
            (r["cust"], r["tier"]): (r["valid_from"], r["valid_to"])
            for r in T.read(spark, table_path).collect()
        }
        assert len(rows) == 3  # cust 2's refresh minted nothing
        assert rows[(1, "bronze")][1] is not None  # closed
        assert rows[(1, "gold")][1] is None
        assert rows[(2, "silver")][1] is None

        before = sorted(map(tuple, T.read(spark, table_path).collect()))
        q.processAllAvailable()  # no new data: state untouched
        assert sorted(map(tuple, T.read(spark, table_path).collect())) == before
    finally:
        q.stop()


def test_streaming_trending_words_accumulates_across_batches(spark, tmp_path):
    """The MG state survives micro-batches: counts accumulate, the top
    list reorders as the stream drifts, and state stays bounded (the
    sketch, not the vocabulary, is what's stored)."""
    from data_ingestion_project_spark.streaming.stateful import trending_words

    src = tmp_path / "docs"
    src.mkdir()
    _write_batch(src, "b1.json", [{"text": "alpha alpha beta"}, {"text": "alpha gamma"}])

    lines = spark.readStream.schema("text string").json(str(src))
    out = trending_words(lines, n_shards=4, capacity=8, emit_top=5)
    q = (
        out.writeStream.format("memory")
        .queryName("trending")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        t1 = {r["word"]: r["est_count"] for r in spark.table("trending").collect()}
        assert t1["alpha"] == 3 and t1["beta"] == 1 and t1["gamma"] == 1

        _write_batch(src, "b2.json", [{"text": "beta beta beta beta"}])
        q.processAllAvailable()
        # update mode appends new rows to the memory sink; latest state
        # for beta must now dominate alpha
        latest = {}
        for r in spark.table("trending").collect():
            latest[r["word"]] = max(latest.get(r["word"], 0), r["est_count"])
        assert latest["beta"] == 5 and latest["alpha"] == 3
    finally:
        q.stop()


def test_gated_ingestion_stream_quarantines_dirty_batches(spark, tmp_path):
    """Streaming WAP: a clean micro-batch publishes with a batch-id
    fence; a dirty one is quarantined (table untouched, rejection
    record written) and the stream continues with later clean
    batches."""
    import json as _json

    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.streaming.ingest import (
        start_gated_ingestion_stream,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    table = str(tmp_path / "t")
    T.create_table(
        spark, table, spark.createDataFrame([(0, 1.0)], "id long, v double")
    )
    checks = {"v_positive": F.col("v") > 0}

    _write_batch(src, "b1.json", [{"id": 1, "v": 2.0}, {"id": 2, "v": 3.0}])
    stream = spark.readStream.schema("id long, v double").json(str(src))
    q = start_gated_ingestion_stream(
        spark, stream, table, checks, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        assert T.read(spark, table).count() == 3  # seed + clean batch

        v_before = T.current_version(table)
        _write_batch(src, "b2.json", [{"id": 3, "v": -5.0}])  # dirty
        q.processAllAvailable()
        assert T.current_version(table) == v_before
        assert T.read(spark, table).count() == 3
        qfiles = sorted((tmp_path / "t" / "_quarantine").glob("batch_*.json"))
        assert len(qfiles) == 1
        rec = _json.loads(qfiles[0].read_text())
        assert rec["violations"] == {"v_positive": 1} and rec["n_rows"] == 1

        _write_batch(src, "b3.json", [{"id": 4, "v": 7.0}])  # clean again
        q.processAllAvailable()
        assert T.read(spark, table).count() == 4
    finally:
        q.stop()


def test_gated_ingestion_second_stream_not_blocked_by_first_fence(spark, tmp_path):
    """Fences are per stream identity (txnAppId shape): a SECOND gated
    stream with its own checkpoint, whose batch ids restart at 0, must
    publish into the same table instead of being silently fenced out
    by the first stream's higher batch ids."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.streaming.ingest import (
        start_gated_ingestion_stream,
    )

    table = str(tmp_path / "t")
    T.create_table(spark, table, spark.createDataFrame([(0, 1.0)], "id long, v double"))
    checks = {"v_positive": F.col("v") > 0}

    src1 = tmp_path / "in1"
    src1.mkdir()
    _write_batch(src1, "b0.json", [{"id": 10, "v": 1.0}])
    q1 = start_gated_ingestion_stream(
        spark, spark.readStream.schema("id long, v double").json(str(src1)),
        table, checks, str(tmp_path / "ck1"),
    )
    try:
        q1.processAllAvailable()
        for i in (1, 2):  # drive stream 1's fence up to batch id >= 2
            _write_batch(src1, f"b{i}.json", [{"id": 10 + i, "v": 1.0}])
            q1.processAllAvailable()
    finally:
        q1.stop()
    fences = T._read_manifest(table, T.current_version(table))["stream_fences"]
    assert fences[str(tmp_path / "ck1")] >= 2

    src2 = tmp_path / "in2"
    src2.mkdir()
    _write_batch(src2, "b0.json", [{"id": 99, "v": 5.0}])
    q2 = start_gated_ingestion_stream(
        spark, spark.readStream.schema("id long, v double").json(str(src2)),
        table, checks, str(tmp_path / "ck2"),
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    ids = {r["id"] for r in T.read(spark, table).collect()}
    assert 99 in ids  # stream 2's batch 0 published despite stream 1's fence
    fences = T._read_manifest(table, T.current_version(table))["stream_fences"]
    assert fences[str(tmp_path / "ck1")] >= 2  # first fence carried forward
    assert fences[str(tmp_path / "ck2")] == 0


def test_progress_summary_reports_watermark_drops(spark, tmp_path):
    """The monitor must surface numRowsDroppedByWatermark: feed a
    window aggregate an event older than the advanced watermark and
    the drop shows up in the summary; batch/state metrics populate."""
    from data_ingestion_project_spark.streaming.monitor import (
        progress_summary,
        total_dropped_by_watermark,
    )
    from data_ingestion_project_spark.streaming.windows import tumbling_counts

    src = tmp_path / "events"
    src.mkdir()
    stream = spark.readStream.schema(
        "ts timestamp, user_id long, event_type string, value double"
    ).json(str(src))
    out = tumbling_counts(stream, window="1 hour", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("monitor_test")
        .outputMode("update")
        .start()
    )
    class _NoProgress:  # pollable before any progress event
        lastProgress = None

    assert progress_summary(_NoProgress())["batch_id"] == -1
    try:
        _write_batch(src, "b1.json", [
            {"ts": "2024-01-01T10:05:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"ts": "2024-01-01T14:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
        ])
        q.processAllAvailable()
        # watermark is now ~13:50; this event is hours older → dropped
        _write_batch(src, "b2.json", [
            {"ts": "2024-01-01T09:00:00", "user_id": 2, "event_type": "late", "value": 1.0},
        ])
        q.processAllAvailable()
        s = progress_summary(q)
        assert s["batch_id"] >= 1
        assert s["state_rows"] >= 1
        assert total_dropped_by_watermark(q) == 1  # exactly the late event
    finally:
        q.stop()


def test_quantile_sketch_stream_equals_batch_build(spark, tmp_path):
    """Streaming standing-sketch maintenance: after three micro-batches
    the (day, sketch) table must equal the batch-built bottom-k
    sketches over ALL rows, bit-for-bit — and a replayed delivery of
    the same rows must leave the table unchanged (the bottom-k fold is
    idempotent, so this sink needs no batch fence)."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.quantile_sketch import (
        bottomk_sketches,
    )
    from data_ingestion_project_spark.streaming.ingest import (
        start_quantile_sketch_stream,
    )

    src = tmp_path / "vals"
    src.mkdir()
    table_path = str(tmp_path / "sketch_table")
    K = 64

    def rows(lo, hi):
        return "\n".join(
            json.dumps(
                {
                    "event_id": i,
                    "ts": f"2024-01-0{1 + i % 2}T10:00:00",
                    "value": float((i * 31) % 97),
                }
            )
            for i in range(lo, hi)
        )

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = start_quantile_sketch_stream(
        spark, stream, table_path, str(tmp_path / "ckpt"), k=K
    )
    try:
        (src / "b1.json").write_text(rows(0, 300))
        (src / "b2.json").write_text(rows(300, 600))
        q.processAllAvailable()
        (src / "b3.json").write_text(rows(600, 900))
        q.processAllAvailable()

        def table_state():
            return sorted(
                (r["day"], tuple(tuple(x) for x in r["sketch"]))
                for r in T.read(spark, table_path).collect()
            )

        got = table_state()
        all_rows = spark.createDataFrame(
            [(i, f"2024-01-0{1 + i % 2}T10:00:00", float((i * 31) % 97)) for i in range(900)],
            "event_id long, ts string, value double",
        ).withColumn("day", F.date_format(F.to_timestamp("ts"), "yyyy-MM-dd"))
        want = sorted(
            (r["day"], tuple(tuple(x) for x in r["sketch"]))
            for r in bottomk_sketches(all_rows, "value", ["day"], "event_id", k=K).collect()
        )
        assert got == want  # streaming fold == batch build, bit-for-bit
        assert {d for d, _ in got} == {"2024-01-01", "2024-01-02"}
        assert all(len(sk) == K for _, sk in got)

        # replayed delivery: same rows again -> table unchanged
        (src / "b3_replay.json").write_text(rows(600, 900))
        q.processAllAvailable()
        assert table_state() == got
    finally:
        q.stop()


def test_signature_asset_stream_equals_batch_build(spark, tmp_path):
    """Streaming signature-asset maintenance (the streaming leg of the
    r5 incremental-asset story): after three micro-batches the MinHash
    and SimHash txn tables must equal the batch-built signatures over
    ALL documents row-for-row, and a re-delivered batch (same fence id,
    same batch id — simulated by calling the maintenance directly with
    the sink's fence) must append nothing."""
    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.dedup import minhash_asset_rows, simhash
    from data_ingestion_project_spark.operators.incremental_dedup import (
        update_signature_assets,
    )
    from data_ingestion_project_spark.streaming.ingest import (
        start_signature_asset_stream,
    )

    src = tmp_path / "docs"
    src.mkdir()
    mh_p = str(tmp_path / "mh")
    sh_p = str(tmp_path / "sh")
    ckpt = str(tmp_path / "ckpt")

    def text(i):
        return f"streamed document {i} with body tokens t{i % 7} u{i % 5} shared tail words"

    def rows(lo, hi):
        return "\n".join(
            json.dumps({"doc_id": i, "text": text(i)}) for i in range(lo, hi)
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = start_signature_asset_stream(spark, stream, mh_p, sh_p, ckpt)
    try:
        (src / "b1.json").write_text(rows(0, 20))
        (src / "b2.json").write_text(rows(20, 40))
        q.processAllAvailable()
        (src / "b3.json").write_text(rows(40, 60))
        q.processAllAvailable()
    finally:
        q.stop()

    full = spark.createDataFrame(
        [(i, text(i)) for i in range(60)], "doc_id long, text string"
    )
    got_mh = sorted(map(tuple, T.read(spark, mh_p).collect()))
    assert got_mh == sorted(map(tuple, minhash_asset_rows(full).collect()))
    assert len(got_mh) == 60
    got_sh = sorted(map(tuple, T.read(spark, sh_p).collect()))
    assert got_sh == sorted(map(tuple, simhash(full).collect()))

    # replayed delivery under the sink's own fence identity: no-op
    import os

    fence_id = os.path.abspath(ckpt)
    replay = spark.createDataFrame(
        [(i, text(i)) for i in range(40, 60)], "doc_id long, text string"
    )
    update_signature_assets(spark, mh_p, sh_p, replay, fence=(fence_id, 2))
    assert T.read(spark, mh_p).count() == 60
    assert T.read(spark, sh_p).count() == 60


def test_cms_stream_equals_batch_build_and_fence_blocks_replay(spark, tmp_path):
    """Streaming CMS maintenance (round-5 verdict ask #7): after three
    micro-batches the standing cell table must equal the batch-built
    sketch over ALL rows cell-for-cell — and because the CMS merge is
    ADDITIVE (not idempotent like the bottom-k folds), a REPLAYED
    delivery under the sink's fence identity must leave every cell
    count unchanged (the fence, not the algebra, is what blocks the
    double-count)."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.cms import cms_build
    from data_ingestion_project_spark.streaming.ingest import start_cms_stream

    src = tmp_path / "words"
    src.mkdir()
    table_path = str(tmp_path / "cms_table")
    ckpt = str(tmp_path / "ckpt")
    DEPTH, WIDTH = 4, 64

    def word(i):
        return f"w{(i * 13) % 40}"

    def rows(lo, hi):
        return "\n".join(json.dumps({"word": word(i)}) for i in range(lo, hi))

    stream = (
        spark.readStream.schema("word string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = start_cms_stream(
        spark, stream, table_path, ckpt, item_col="word", depth=DEPTH, width=WIDTH
    )
    try:
        (src / "b1.json").write_text(rows(0, 300))
        (src / "b2.json").write_text(rows(300, 600))
        q.processAllAvailable()
        (src / "b3.json").write_text(rows(600, 900))
        q.processAllAvailable()

        def cells():
            return sorted(
                (r["cell"], r["cnt"]) for r in T.read(spark, table_path).collect()
            )

        got = cells()
        full = spark.createDataFrame(
            [(word(i),) for i in range(900)], "word string"
        )
        want = sorted(
            (r["j"] * WIDTH + r["bucket"], r["cnt"])
            for r in cms_build(full, "word", depth=DEPTH, width=WIDTH).collect()
        )
        assert got == want  # streaming adds == one batch build, cell-for-cell

        # planted replay: re-apply batch 2's rows through the REAL fold
        # (the exact function the sink calls) under the sink's fence
        # identity and the already-recorded batch_id — the fence must
        # refuse the merge, leaving every cell count unchanged; the
        # same rows under a NEW batch_id must double-count (proving the
        # algebra alone would NOT have protected us — the fence does).
        import os

        from data_ingestion_project_spark.operators.cms import update_cms_asset

        fence_id = os.path.abspath(ckpt)
        head = T.current_version(table_path)
        assert T._read_manifest(table_path, head)["stream_fences"][fence_id] == 2
        b3 = spark.createDataFrame(
            [(word(i),) for i in range(600, 900)], "word string"
        )
        update_cms_asset(
            spark, table_path, b3, item_col="word", depth=DEPTH, width=WIDTH,
            fence=(fence_id, 2),
        )
        assert cells() == got  # replayed batch: every cell unchanged
        update_cms_asset(
            spark, table_path, b3, item_col="word", depth=DEPTH, width=WIDTH,
            fence=(fence_id, 3),
        )
        b3_cells = {
            r["j"] * WIDTH + r["bucket"]: r["cnt"]
            for r in cms_build(b3, "word", depth=DEPTH, width=WIDTH).collect()
        }
        want_after = sorted(
            (cell, cnt + b3_cells.get(cell, 0)) for cell, cnt in got
        )
        assert cells() == want_after  # new batch_id: adds (additive, as designed)
    finally:
        q.stop()


def test_dedup_ingestion_stream_end_to_end(spark, tmp_path):
    """At-ingest dedup composition (streaming leg of the incremental-
    dedup story): across three micro-batches, near-dups of accepted
    docs and within-batch dups never reach the corpus table; the
    MinHash/SimHash assets hold exactly the survivors; and a replayed
    batch through the REAL per-batch function (the sink's body) under
    the recorded fence changes nothing anywhere."""
    import os

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.dedup import minhash_asset_rows, simhash
    from data_ingestion_project_spark.operators.incremental_dedup import (
        ingest_dedup_batch,
    )
    from data_ingestion_project_spark.streaming.ingest import (
        start_dedup_ingestion_stream,
    )

    DOC = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from a warm windowsill in the late afternoon sun"
    )
    OTHER = (
        "completely different content about distributed query engines and "
        "columnar storage formats for large scale analytics workloads"
    )
    fresh = "an entirely novel document with unique words nobody wrote before"

    src = tmp_path / "docs_in"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "fp_index")
    mh_p = str(tmp_path / "mh")
    sh_p = str(tmp_path / "sh")
    ckpt = str(tmp_path / "ckpt")

    batches = [
        [(1, DOC), (2, OTHER)],
        # 10 near-dups accepted doc 1; 11 fresh; 12 in-batch dup of 11
        [(10, DOC.replace("lazy", "sleepy")), (11, fresh), (12, fresh + " !")],
        # 20 near-dups accepted doc 2; 21 fresh
        [(20, OTHER.replace("columnar", "vectorized")),
         (21, "yet another genuinely new text with its own vocabulary entirely")],
    ]

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = start_dedup_ingestion_stream(spark, stream, corpus, index, mh_p, sh_p, ckpt)
    try:
        for i, rows in enumerate(batches):
            (src / f"b{i}.json").write_text(
                "\n".join(json.dumps({"doc_id": d, "text": t}) for d, t in rows)
            )
            q.processAllAvailable()
    finally:
        q.stop()

    accepted_ids = [1, 2, 11, 21]
    got = sorted(r.doc_id for r in T.read(spark, corpus).collect())
    assert got == accepted_ids

    survivors = spark.createDataFrame(
        [(d, t) for rows in batches for d, t in rows if d in accepted_ids],
        "doc_id long, text string",
    )
    assert sorted(map(tuple, T.read(spark, mh_p).collect())) == sorted(
        map(tuple, minhash_asset_rows(survivors).collect())
    )
    assert sorted(map(tuple, T.read(spark, sh_p).collect())) == sorted(
        map(tuple, simhash(survivors).collect())
    )

    # replay batch 2 (batch_id=2) through the real per-batch function
    # under the sink's fence identity: every table stays bit-identical
    fence_id = os.path.abspath(ckpt)
    states = {
        p: T.current_version(p) for p in (corpus, mh_p, sh_p)
    }
    fp_rows = T.read(spark, index).count()
    b3 = spark.createDataFrame(batches[2], "doc_id long, text string")
    info = ingest_dedup_batch(
        spark, b3, corpus, index, mh_p, sh_p, fence=(fence_id, 2)
    )
    assert info["n_accepted"] == 1  # dedup itself replays identically
    assert {p: T.current_version(p) for p in (corpus, mh_p, sh_p)} == states
    assert T.read(spark, index).count() == fp_rows  # index self-replay-safe
    assert sorted(r.doc_id for r in T.read(spark, corpus).collect()) == accepted_ids


def test_bloom_stream_equals_batch_build_replay_absorbed(spark, tmp_path):
    """Streaming Bloom maintenance: after three micro-batches the
    set-bit table equals the one-shot build over all items, a
    re-delivered batch appends nothing (SET semantics absorb replay —
    no fence in this sink, by design), and probing the streamed filter
    flags every ingested item."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.bloom import bloom_bits, bloom_probe
    from data_ingestion_project_spark.streaming.ingest import start_bloom_stream

    src = tmp_path / "keys"
    src.mkdir()
    table_path = str(tmp_path / "bloom")

    stream = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = start_bloom_stream(spark, stream, table_path, str(tmp_path / "ckpt"), "key")
    try:
        for lo, hi, name in ((0, 200, "b1"), (200, 400, "b2"), (400, 600, "b3")):
            (src / f"{name}.json").write_text(
                "\n".join(json.dumps({"key": i}) for i in range(lo, hi))
            )
            q.processAllAvailable()
        got = {r.bit for r in T.read(spark, table_path).collect()}
        full = spark.range(0, 600).select(F.col("id").alias("key"))
        want = {r.bit for r in bloom_bits(full, "key").collect()}
        assert got == want

        version = T.current_version(table_path)
        (src / "b3_replay.json").write_text(
            "\n".join(json.dumps({"key": i}) for i in range(400, 600))
        )
        q.processAllAvailable()
        # replay delivered: zero new bits -> zero new commits
        assert T.current_version(table_path) == version

        probes = bloom_probe(full, T.read(spark, table_path), "key")
        assert probes.filter("NOT maybe_member").count() == 0
    finally:
        q.stop()


def test_covariance_stream_equals_batch_moments(spark, tmp_path):
    """Streaming covariance maintenance: after three micro-batches of
    embeddings the standing moment cells equal the one-shot
    moment_rows over all vectors exactly (integer cells), and the
    refit model from the asset matches the direct fit."""
    import numpy as np

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.pca import (
        moment_rows,
        pca_model,
        pca_model_from_asset,
    )
    from data_ingestion_project_spark.streaming.ingest import start_covariance_stream

    DIM = 8
    src = tmp_path / "vecs"
    src.mkdir()
    table_path = str(tmp_path / "cov")

    def vec(i):
        return [round(((i * 7 + d * 13) % 200 - 100) / 250.0, 4) for d in range(DIM)]

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = start_covariance_stream(
        spark, stream, table_path, str(tmp_path / "ckpt"), dim=DIM
    )
    try:
        for lo, hi, name in ((0, 40, "b1"), (40, 80, "b2"), (80, 120, "b3")):
            (src / f"{name}.json").write_text(
                "\n".join(
                    json.dumps({"vec_id": i, "embedding": vec(i)})
                    for i in range(lo, hi)
                )
            )
            q.processAllAvailable()
    finally:
        q.stop()

    full = spark.createDataFrame(
        [(i, vec(i)) for i in range(120)], "vec_id long, embedding array<double>"
    )
    want = {
        (r["i"], r["j"]): r["v"] for r in moment_rows(full, dim=DIM).collect()
    }
    got = {(r["i"], r["j"]): r["v"] for r in T.read(spark, table_path).collect()}
    assert got == want

    ca, ra, _ = pca_model_from_asset(spark, table_path, dim=DIM, k=3)
    cb, rb, _ = pca_model(full, dim=DIM, k=3)
    assert np.allclose(ca, cb, atol=1e-9) and np.allclose(ra, rb, atol=1e-12)


def test_corpus_build_stream_crash_replay_consistency(spark, tmp_path):
    """The composed end-to-end corpus build (VERDICT r6 ask #8): one
    document stream maintains FIVE fenced assets per micro-batch
    (dedup index → corpus → minhash/simhash → inverted index →
    language moments).  A crash is PLANTED mid-batch (after the
    signature leg, before the index leg) on batch 1; the restarted
    stream must replay exactly the missing commits — and at the end
    all assets are mutually consistent with an independent batch
    recomputation over the survivors."""
    import os

    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.dedup import minhash_asset_rows
    from data_ingestion_project_spark.operators.inverted_index import index_rows
    from data_ingestion_project_spark.streaming.ingest import (
        start_corpus_build_stream,
    )

    base_doc = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from a warm windowsill in the late afternoon sun"
    )
    src = tmp_path / "docs_in"
    src.mkdir()
    paths = {
        k: str(tmp_path / k)
        for k in (
            "corpus",
            "index",
            "minhash",
            "simhash",
            "postings",
            "lens",
            "dfs",
            "moments",
        )
    }
    ckpt = str(tmp_path / "ckpt")

    batches = [
        [(1, base_doc, "en"), (2, "palabras distintas sobre motores de consulta distribuidos y formatos columnar", "es")],
        # 10 near-dups doc 1 (dropped); 11 fresh
        [(10, base_doc.replace("lazy", "sleepy"), "en"),
         (11, "an entirely novel document with unique words nobody wrote before", "en")],
        [(20, "yet another genuinely new text with its own vocabulary entirely", "fr")],
    ]

    def write(i):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": t, "lang": g})
                for d, t, g in batches[i]
            )
        )

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    class PlantedCrash(RuntimeError):
        pass

    def crash_hook(leg, batch_id):
        if leg == "signatures" and batch_id == 1:
            raise PlantedCrash("planted crash after signature leg, batch 1")

    q = start_corpus_build_stream(
        spark, stream(), paths, ckpt, checkpoint_hook=crash_hook
    )
    write(0)
    q.processAllAvailable()
    write(1)
    with pytest.raises(Exception):
        q.processAllAvailable()
        q.awaitTermination()
    q.stop()

    # mid-crash state: batch-1 survivors reached corpus+signatures but
    # NOT the inverted index or moments — the window the fences close
    assert sorted(r.doc_id for r in T.read(spark, paths["corpus"]).collect()) == [1, 2, 11]
    assert sorted(r.doc_id for r in T.read(spark, paths["lens"]).collect()) == [1, 2]
    en_moments = {r["key"]: int(r["n"]) for r in T.read(spark, paths["moments"]).collect()}
    assert en_moments == {"en": 1, "es": 1}

    # restart WITHOUT the hook: batch 1 replays (fences absorb the
    # already-landed legs), batch 2 proceeds
    q2 = start_corpus_build_stream(spark, stream(), paths, ckpt)
    write(2)
    q2.processAllAvailable()
    q2.stop()

    survivors = [
        (d, t, g) for rows in batches for d, t, g in rows if d in (1, 2, 11, 20)
    ]
    sdf = spark.createDataFrame(survivors, "doc_id long, text string, lang string")

    # corpus: exactly the survivors, exactly once
    assert sorted(r.doc_id for r in T.read(spark, paths["corpus"]).collect()) == [1, 2, 11, 20]

    # signatures match an independent batch recomputation
    assert sorted(map(tuple, T.read(spark, paths["minhash"]).collect())) == sorted(
        map(tuple, minhash_asset_rows(sdf).collect())
    )

    # inverted index: lens per survivor; postings and ADDITIVE dfs
    # equal the batch build (a double-applied replay would double df)
    want_postings, want_lens, want_dfs = index_rows(sdf)
    assert sorted(map(tuple, T.read(spark, paths["lens"]).collect())) == sorted(
        map(tuple, want_lens.collect())
    )
    got_dfs = {r.word: r.df for r in T.read(spark, paths["dfs"]).collect()}
    assert got_dfs == {r.word: r.df for r in want_dfs.collect()}

    # moments: per-language doc counts and exact micro-unit length sums
    got_m = {
        r["key"]: (int(r["n"]), int(r["sx"]))
        for r in T.read(spark, paths["moments"]).collect()
    }
    want_m = {}
    for d, t, g in survivors:
        n, sx = want_m.get(g, (0, 0))
        want_m[g] = (n + 1, sx + len(t) * 1_000_000)
    assert got_m == want_m
