"""Structured Streaming pipelines (SURVEY.md §2.9 — the reference has no
streaming; this is the extension surface for the events stream shape).

Batch/stream parity: these transforms reuse the same expressions as
``operators.windows`` so a query validated in batch (against the DuckDB
oracle) runs unchanged on a stream — the core Structured Streaming design
point. Late data is bounded by watermarks; state stores spill via RocksDB
on a real cluster (``spark.sql.streaming.stateStore.providerClass``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", StringType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a directory of event files (the local-testable
    source; swap for Kafka via ``format("kafka")`` + from_json in prod —
    the downstream plan is identical)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def streaming_tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling window counts per event_type.

    The watermark bounds state: windows older than max(event time) -
    watermark are finalized and evicted — without it, 100 TB of stream
    history accumulates in the state store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def streaming_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows via the native session_window (gap-close semantics
    identical to the batch ``operators.windows.sessionize``).

    Cross-micro-batch behavior: open sessions merge through the state store
    and emit on close (event time passing start+gap beyond the watermark) —
    use **append** output in production so only finalized sessions flow to
    the sink; a complete-mode snapshot mid-stream can show not-yet-merged
    fragments and watermark-evicted groups."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
    ]
)


def streaming_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running event
    count per user (the escape hatch pattern for operators Spark's built-in
    stateful ops can't express)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=StructType([StructField("total", LongType())]),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: State-store metrics of the most recent drain (round-11, VERDICT r10 #3).
#: Drain TIME is the wrong scale proxy for state-bounded operators — a
#: watermark bug shows up as state growth long before wall time moves — so
#: every drain publishes its final ``stateOperators`` here and
#: scripts/check_oracle.py copies them into the sweep record (one slot, read
#: immediately after the query function returns; harness runs are serial).
#: Shape: [{operator, state_rows, memory_used_mb, rows_dropped_by_watermark}]
#: — state_rows/memory from the LAST progress (the end-of-drain state
#: store), dropped-by-watermark summed across every batch of the drain.
LAST_STATE_METRICS: list[dict] = []

#: Formatted explain of the LAST drained query's final micro-batch
#: (IncrementalExecution) — 0-or-1 element, cleared per drain. Captured so
#: scripts/final_plans.py can census streaming join/stateful strategies
#: from the plan that actually ran (VERDICT r13 #2: strategy flips inside
#: a drain previously surfaced only as timing).
LAST_FINAL_PLAN: list[str] = []


def capture_state_metrics(q) -> None:
    """Publish a finished StreamingQuery's state-operator metrics into
    ``LAST_STATE_METRICS`` (cleared first, so a stateless query leaves it
    empty rather than stale). Best-effort: metrics are evidence, never a
    drain failure. Also publishes the last micro-batch's finalized
    physical plan into ``LAST_FINAL_PLAN`` (same contract)."""
    LAST_STATE_METRICS.clear()
    del LAST_FINAL_PLAN[:]
    try:
        sess = SparkSession.getActiveSession()
        # StreamingQueryWrapper -> StreamExecution -> the last micro-batch's
        # IncrementalExecution (a QueryExecution, so the standard formatted
        # explain shim applies).
        qe = q._jsq.streamingQuery().lastExecution()
        if sess is not None and qe is not None:
            LAST_FINAL_PLAN.append(
                sess._jvm.PythonSQLUtils.explainString(qe, "formatted")
            )
    except Exception:  # noqa: BLE001 - plan capture is evidence, never a failure
        del LAST_FINAL_PLAN[:]
    try:
        progresses = [p for p in (q.recentProgress or []) if p]
        if not progresses:
            return
        dropped: dict[int, int] = {}
        for p in progresses:
            for i, op in enumerate(p.get("stateOperators") or []):
                dropped[i] = dropped.get(i, 0) + (
                    op.get("numRowsDroppedByWatermark") or 0
                )
        for i, op in enumerate(progresses[-1].get("stateOperators") or []):
            LAST_STATE_METRICS.append(
                {
                    "operator": op.get("operatorName"),
                    "state_rows": op.get("numRowsTotal"),
                    "memory_used_mb": round(
                        (op.get("memoryUsedBytes") or 0) / (1024.0 * 1024.0), 3
                    ),
                    "rows_dropped_by_watermark": dropped.get(i, 0),
                }
            )
    except Exception:  # noqa: BLE001 - metrics are evidence, never a failure
        LAST_STATE_METRICS.clear()


def run_stream_to_memory(
    result: DataFrame, query_name: str, output_mode: str = "complete", timeout_s: int = 60
) -> None:
    """Test/bench helper: drain a bounded file-source stream into an
    in-memory sink (availableNow processes all available input then stops).

    ``complete`` mode because with a single availableNow batch the watermark
    only advances *after* the batch — append mode would emit nothing."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {query_name} did not finish within {timeout_s}s"
        )
    capture_state_metrics(q)


def foreach_batch_parquet_sink(
    stream: DataFrame, path: str, checkpoint: str
):
    """Exactly-once file sink: ``foreachBatch`` + idempotent per-batch
    dynamic partition overwrite.

    The standard recipe when a sink has no native transactional writer:
    each micro-batch lands under its ``_batch_id=N`` partition with
    DYNAMIC partition overwrite, so a replayed batch (failure between
    write and checkpoint commit) overwrites ITS OWN partition instead of
    duplicating rows — write idempotence + the checkpoint's exactly-once
    batch tracking compose to end-to-end exactly-once. Restarting with the
    same checkpoint resumes at the next unprocessed file; batch ids keep
    ascending.
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


TIMEOUT_SESSIONS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)


def streaming_timeout_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Timeout-driven sessionization via applyInPandasWithState +
    EventTimeTimeout — the production-stateful shape the built-in
    ``session_window`` can't customize: sessions CLOSE (and emit) either
    when a later in-batch event breaks the gap, or when the event-time
    watermark passes last_event + gap and the state times out. State is one
    (start, last, count) triple per user — bounded by active users, evicted
    on timeout.

    Determinism over a finite availableNow source: every closed session's
    end precedes max(ts) - gap, so the emitted set equals the batch
    gap-sessionizer restricted to that region (the oracle's WHERE clause).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def emit(s: int, l: int, n: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.to_datetime(s, unit="us")],
                    "session_end": [pd.to_datetime(l, unit="us")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            s, l, n = state.get
            state.remove()
            yield emit(s, l, n)
            return

        ts: list[int] = []
        for pdf in pdfs:
            # Arrow hands timestamps over as datetime64[ns]; normalize to
            # integer microseconds (the engine's timestamp precision)
            ts.extend(int(v) for v in pdf["ts"].astype("datetime64[us]").astype("int64"))
        ts.sort()
        cur = state.get if state.exists else None
        for t in ts:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_us:
                yield emit(*cur)
                cur = (t, t, 1)
            else:
                cur = (cur[0], t, cur[2] + 1)
        if cur is not None:
            state.update(cur)
            # Ceil-divide the microsecond deadline to milliseconds: floor
            # would let the timeout fire up to ~1ms BEFORE last_event+gap,
            # emitting a session the strict-microsecond oracle still holds.
            state.setTimeoutTimestamp(-(-(cur[1] + gap_us) // 1000))

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=TIMEOUT_SESSIONS_SCHEMA,
        stateStructType=StructType(
            [
                StructField("s_start", LongType()),
                StructField("s_last", LongType()),
                StructField("n", LongType()),
            ]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


USER_STATS_TWS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_event_types", LongType()),
        StructField("n_purchases", LongType()),
        StructField("value_cents", LongType()),
    ]
)


def streaming_user_stats_tws(events: DataFrame) -> DataFrame:
    """Per-user running stats via transformWithStateInPandas — the Spark 4
    arbitrary-state API that supersedes applyInPandasWithState: typed,
    named state variables (ValueState / MapState / ListState), per-state
    TTL, timers, and schema evolution instead of one opaque state tuple.

    State here is a ValueState (event count, purchase count, exact integer
    value cents) plus a MapState keyed by event_type (distinct-type count
    survives restarts without rescanning). Each micro-batch merges its
    pandas chunks into the state and emits the user's current totals; over
    ONE availableNow batch the emission equals the batch aggregate, which
    is the oracle.

    At scale the state store is hash-partitioned by user_id — the same
    shuffle a batch groupBy pays, amortized across the stream's life.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState(
                "totals", "n_events BIGINT, n_purchases BIGINT, value_cents BIGINT"
            )
            self.types = handle.getMapState(
                "types", "event_type STRING", "n BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, np_, cents = self.totals.get() or (0, 0, 0)
            batch_counts: dict = {}
            for pdf in rows:
                n += len(pdf)
                np_ += int((pdf["event_type"] == "purchase").sum())
                # floor(x + 0.5): half-away-from-zero on positive values,
                # matching Spark/DuckDB ROUND (numpy .round() is banker's)
                cents += int(
                    ((pdf["value"] * 100 + 0.5) // 1).astype("int64").sum()
                )
                for etype, cnt in pdf["event_type"].value_counts().items():
                    batch_counts[etype] = batch_counts.get(etype, 0) + int(cnt)
            # every MapState call is a proto round-trip through the state
            # server: read the whole (small, per-type) map in ONE iterator
            # pass and write back only the types this batch touched,
            # instead of getValue+updateValue per type plus a keys() scan
            # (was ~3x the calls per user; the server chatter, not the
            # pandas math, dominates this processor's runtime)
            existing = {k[0]: v[0] for k, v in self.types.iterator()}
            for etype, cnt in batch_counts.items():
                self.types.updateValue((etype,), (existing.get(etype, 0) + cnt,))
            self.totals.update((n, np_, cents))
            n_types = len(existing.keys() | batch_counts.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_event_types": [n_types],
                    "n_purchases": [np_],
                    "value_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=USER_STATS_TWS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
