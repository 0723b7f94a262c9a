"""Custom stateful streaming operator via ``applyInPandasWithState``.

Running per-user lifetime totals over an unbounded event stream —
the operator shape that neither windowed aggregation (needs a window)
nor streaming dedup (needs a key) covers: arbitrary user-defined
state evolved per micro-batch.

State design for scale: state is ONE fixed-size row per user
(count + sum), not event history — the store grows with |users|, not
|events|. State lives in the checkpointed state store, partitioned by
the group key, so a 1000-executor cluster shards it naturally. For
keys that must eventually expire (e.g. sessions), swap NoTimeout for
event-time timeouts; lifetime totals deliberately never expire.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total double"


def _update_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming DataFrame (user_id, value, ...) → per-user lifetime
    totals, emitted in Update mode each micro-batch a user is seen."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------- streaming heavy hitters (Misra-Gries)

TREND_OUT_SCHEMA = "shard int, word string, est_count long"
TREND_STATE_SCHEMA = "items array<string>, weights array<long>"


def trending_words(
    lines: DataFrame,
    n_shards: int = 16,
    capacity: int = 1024,
    emit_top: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Streaming frequent-words over an unbounded text stream: the
    streaming twin of operators/heavy_hitters.py, with the SAME
    Misra-Gries fold as the per-key state transition — mergeable
    sketches are exactly what makes a batch summary re-usable as
    streaming state.

    Sharding design: words hash into ``n_shards`` groups; each shard's
    state is ONE bounded MG summary (≤ capacity counters stored as two
    arrays), so the state store holds n_shards × capacity counters
    TOTAL regardless of vocabulary size — the groupBy(word) exact
    alternative grows state with the key universe, which is the thing
    an unbounded stream cannot afford. Guarantee per shard: any word
    with frequency > shard_rows/(capacity+1) is present, weights are
    lower bounds (Agarwal et al. merge property, pinned in pytest for
    the batch twin). Each micro-batch emits the shard's current top
    ``emit_top`` (update mode); a downstream consumer takes the global
    top-k by est_count across shards — correct because a word lives in
    exactly one shard."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.heavy_hitters import _mg_fold

    def _update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, weights = state.get
            counters = dict(zip(items, weights))
        else:
            counters = {}
        for pdf in pdfs:
            _mg_fold(counters, pdf["word"].dropna(), capacity)
        state.update((list(counters), [int(w) for w in counters.values()]))
        top = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))[:emit_top]
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(top),
                "word": [w for w, _ in top],
                "est_count": [c for _, c in top],
            }
        )

    words = lines.select(
        F.explode(F.split(F.lower(F.trim(text_col)), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    sharded = words.withColumn(
        "shard", F.pmod(F.xxhash64("word"), F.lit(n_shards)).cast("int")
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        _update,
        outputStructType=TREND_OUT_SCHEMA,
        stateStructType=TREND_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_SESSION_STATE_SCHEMA = "start long, last long, n long"


def _make_session_finalizer(gap_ms: int):
    """Build the stateful function as a closure over the gap (the
    function is pickled to executors — a module global would not
    travel with it reliably)."""

    def _finalize(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # the gap elapsed in EVENT time (watermark passed
            # last + gap): the session is closed — emit its one
            # summary row and clear state
            start_ms, last_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_ms, unit="ms")],
                    "session_end": [pd.Timestamp(last_ms, unit="ms")],
                    "n_events": [n],
                }
            )
            return
        start_ms, last_ms, n = state.get if state.exists else (None, None, 0)
        for pdf in pdfs:
            # millisecond precision end-to-end: state, output timestamps,
            # and the timeout all carry ms — flooring to whole seconds
            # would fire the timeout up to ~1 s early relative to the
            # true last event and truncate session bounds.
            ts = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000
            lo, hi = int(ts.min()), int(ts.max())
            start_ms = lo if start_ms is None else min(start_ms, lo)
            last_ms = hi if last_ms is None else max(last_ms, hi)
            n += len(pdf)
        state.update((start_ms, last_ms, n))
        # re-arm: close when the watermark passes last + gap. The
        # timeout must be re-set on EVERY invocation (processing the
        # group clears it).
        state.setTimeoutTimestamp(last_ms + gap_ms)

    return _finalize


def closed_user_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessions emitted ON CLOSE: one summary row per (user, session),
    produced only when the event-time watermark passes the session's
    last event + gap — the streaming semantics ``session_window``
    aggregation cannot express when the *shape* of the output must be
    a custom record finalized exactly once (here: start/end/count; in
    production e.g. a serialized session journey).

    State: one (start, last, n) triple per ACTIVE user session —
    closed sessions leave state immediately (``state.remove()``), so
    memory is bounded by concurrently-active users, not history. The
    event-time timeout (``GroupStateTimeout.EventTimeTimeout`` +
    ``setTimeoutTimestamp``) is what distinguishes this from the
    NoTimeout running-totals operator above: progress of the WATERMARK
    — not arrival of more data for the key — drives emission, so an
    idle user's session closes even though no row for that user ever
    arrives again."""
    return (
        events.withWatermark("ts", f"{gap_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_session_finalizer(gap_minutes * 60 * 1000),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
