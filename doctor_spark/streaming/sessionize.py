"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState``.

The batch form of this operator (lag/cumsum window functions) lives in
``doctor_spark.queries.relational`` with an exact SQL oracle; this is
the unbounded-stream form: per-user state carries (current session id,
last event time, running aggregates) across micro-batches, a >30-min gap
closes the session, and closed sessions are emitted exactly once.

State schema: (session_no, last_ts_us, start_ts_us, n_events, total_cents)
Output: one row per CLOSED session.  An OPEN session flushes via the
``flush_idle_ms`` ProcessingTimeTimeout on continuous streams, or — after
an availableNow drain, where Structured Streaming has no end-of-stream
callback — via ``drain_open_sessions``, which reads the final open
sessions straight out of the checkpointed state store (state data
source), completing the batch-equality contract.

Totals accumulate in integer CENTS (each event value is quantized exactly
like Spark's ``cast(value AS decimal(18,2))`` — HALF_UP on the binary
double), so the emitted total_value is bit-identical to the batch form /
SQL oracle's decimal sums; a float accumulator would drift at the second
decimal.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_US = 30 * 60 * 1_000_000

OUTPUT_DDL = (
    "user_id long, session_no long, n_events long, "
    "session_start timestamp, session_end timestamp, total_value double"
)
STATE_DDL = (
    "session_no long, last_ts long, start_ts long, n_events long, "
    "total_cents long"
)


def _make_sessionize_group(flush_idle_ms: int | None):
    def _sessionize_group(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                sess_no, last_ts, start_ts, n, cents = state.get
                if n > 0:
                    # flush the open session but KEEP a tombstone carrying
                    # the next session number — removing state outright
                    # would restart session_no at 0 for this user's next
                    # event and emit duplicate (user_id, session_no) keys
                    state.update((sess_no + 1, None, None, 0, 0))
                    state.setTimeoutDuration(24 * 3600 * 1000)
                    yield _row(user_id, sess_no, n, start_ts, last_ts, cents)
                else:
                    # the tombstone must OUTLIVE any idle gap: expiring it
                    # would restart session_no at 0 for a returning user
                    # and emit duplicate keys.  One tiny row per user is
                    # bounded by user cardinality; re-arm and keep.
                    state.setTimeoutDuration(24 * 3600 * 1000)
            return

        if state.exists:
            sess_no, last_ts, start_ts, n, cents = state.get
        else:
            sess_no, last_ts, start_ts, n, cents = 0, None, None, 0, 0

        # one global sort: a group's micro-batch data can arrive as several
        # Arrow chunks, and chunk-local sorting would interleave timestamps
        # across chunk boundaries (wrong gaps -> wrong session splits)
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            merged = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            ).sort_values("ts")
        else:
            merged = None

        closed: list[pd.DataFrame] = []
        if merged is not None:
            from decimal import ROUND_HALF_UP, Decimal

            cent = Decimal("0.01")
            for ts, value in zip(merged["ts"], merged["value"]):
                ts_us = int(ts.value // 1000)  # pandas ns -> us
                if last_ts is not None and ts_us - last_ts > GAP_US:
                    closed.append(
                        _row(user_id, sess_no, n, start_ts, last_ts, cents)
                    )
                    sess_no += 1
                    start_ts, n, cents = ts_us, 0, 0
                if start_ts is None:
                    start_ts = ts_us
                last_ts = ts_us
                n += 1
                # exact decimal(18,2) cents, like the batch form's cast —
                # Decimal(float) quantizes the BINARY double HALF_UP,
                # matching Spark's double->decimal cast semantics
                cents += int(
                    Decimal(float(value)).quantize(cent, ROUND_HALF_UP) * 100
                )

        state.update((sess_no, last_ts, start_ts, n, cents))
        if flush_idle_ms is not None:
            state.setTimeoutDuration(flush_idle_ms)
        yield from closed

    return _sessionize_group


def _row(user_id, sess_no, n, start_us, end_us, cents) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "session_no": [sess_no],
            "n_events": [n],
            "session_start": [pd.Timestamp(start_us, unit="us")],
            "session_end": [pd.Timestamp(end_us, unit="us")],
            "total_value": [cents / 100.0],
        }
    )


def streaming_sessionize(
    events: DataFrame,
    query_name: str = "sessions",
    checkpoint: str | None = None,
    flush_idle_ms: int | None = None,
    out_dir: str | None = None,
):
    """events stream (user_id, ts, value, ...) → closed-session stream.

    ``flush_idle_ms``: in continuous production streams, set it (e.g.
    3_600_000) so idle users' open sessions flush via
    ProcessingTimeTimeout.  Leave None for drain-and-stop
    (``availableNow``) runs — with a timeout configured, availableNow
    keeps running empty "cleaning up state" batches until every timeout
    fires and the query never terminates (observed live).

    Returns the started query (memory sink for tests; swap for parquet in
    production)."""
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if flush_idle_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    # note: checkpoint RECOVERY (state carried across restarts) requires a
    # recoverable sink — pass out_dir for parquet; the memory sink is for
    # single-run tests only
    sessions = events.select("user_id", "ts", "value").groupBy("user_id").applyInPandasWithState(
        _make_sessionize_group(flush_idle_ms),
        outputStructType=OUTPUT_DDL,
        stateStructType=STATE_DDL,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
    if out_dir:
        if checkpoint is None:
            # the parquet sink REQUIRES a checkpoint; default it next to
            # the output so the documented production call just works
            checkpoint = f"{out_dir}/_checkpoint"
        writer = (
            sessions.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
        )
    else:
        writer = (
            sessions.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .trigger(availableNow=True)
        )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def drain_open_sessions(spark, checkpoint: str) -> DataFrame:
    """End-of-stream flush: the still-open sessions left in state by an
    availableNow run over ``checkpoint``, as a batch DataFrame with the
    same schema as the closed-session stream (OUTPUT_DDL).

    Structured Streaming has no end-of-stream callback, so a NoTimeout
    drain leaves each user's final session in the state store.  Rather
    than replaying the query with a ProcessingTimeTimeout — which cannot
    work: switching timeoutConf changes the state VALUE schema (Spark
    appends the timeout timestamp), so the restart dies with
    STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE — this reads the checkpoint
    directly with Spark's state data source (``format("statestore")``),
    which is also the 100 TB form: a parallel scan of the state files, no
    micro-batch machinery, no sentinels.

    Read-only: state is not modified.  If the stream RESUMES after a
    drain, the drained session continues accumulating and is eventually
    emitted closed under the same (user_id, session_no) — consumers that
    merge a drain with later stream output take the later row per key.
    Session-number tombstones (n_events = 0) are excluded."""
    st = spark.read.format("statestore").option("path", checkpoint).load()
    key_field = st.schema["key"].dataType.fieldNames()[0]
    val_field = st.schema["value"].dataType.fieldNames()[0]
    v = F.col(f"value.{val_field}")
    return (
        st.select(
            F.col(f"key.{key_field}").cast("long").alias("user_id"),
            v["session_no"].cast("long").alias("session_no"),
            v["n_events"].cast("long").alias("n_events"),
            F.timestamp_micros(v["start_ts"]).alias("session_start"),
            F.timestamp_micros(v["last_ts"]).alias("session_end"),
            (v["total_cents"] / 100.0).cast("double").alias("total_value"),
        )
        .where(F.col("n_events") > 0)
    )
