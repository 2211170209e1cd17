"""Structured-streaming geospatial ingest.

The engine's streaming surface: an event stream (schema of the driver's
`events` table) is geotagged deterministically, assigned S2 cells with
the same Arrow kernel UDF as the batch path, and aggregated into
watermarked tumbling windows per coarse cell — the streaming analogue of
the hot-cells rollup.

The sandbox has no live source, so tests replay the events parquet
through the file stream source (one input file == one micro-batch) and
assert stream results == the batch computation on the same data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType, TimestampType)

from .. import functions as s2f

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def geotag_events(df: DataFrame) -> DataFrame:
    """Deterministic event coordinates from user_id (same integer-mod
    derivation style as the pages synthesizer)."""
    lat = ((F.col("user_id") * 7919 + 12345) % 160000001 - 80000000) / 1e6
    lon = ((F.col("user_id") * 104729 + 54321) % 360000001 - 180000000) / 1e6
    return (df.withColumn("lat", lat).withColumn("lon", lon)
            .withColumn("cell_id", s2f.s2_cellid("lat", "lon")))


def windowed_cell_counts(df: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours",
                         level: int = 8) -> DataFrame:
    """Watermarked tumbling-window counts per level-`level` cell."""
    tagged = geotag_events(df)
    if tagged.isStreaming:
        tagged = tagged.withWatermark("ts", watermark)
    return (tagged
            .groupBy(F.window("ts", window).alias("w"),
                     s2f.cell_parent(F.col("cell_id"), level)
                     .alias(f"cell_l{level}"))
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    f"cell_l{level}", "n_events",
                    F.round("sum_value", 6).alias("sum_value_r")))


def stream_events_from_dir(spark: SparkSession, events_dir: str,
                           max_files_per_trigger: int = 1) -> DataFrame:
    """File-source replay: each parquet file in events_dir is a
    micro-batch."""
    return (spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(events_dir))


def cell_session_windows(df: DataFrame, level: int = 8,
                         gap: str = "2 hours",
                         watermark: str = "12 hours") -> DataFrame:
    """Per-cell activity SESSIONS via the declarative session-window
    operator (F.session_window): a session extends while consecutive
    events in the cell arrive within `gap` of each other and closes at
    last_event + gap (the default splits the synthetic event density
    into a few hundred sessions per 1k events).  The same plan runs in batch and streaming —
    Catalyst owns the merge logic (the Spark-first alternative to the
    applyInPandasWithState tracker above); streaming adds the watermark
    so windows can finalize.  n_users is exact (collect_set) — bounded
    by per-session distinct users, which the gap bounds in turn."""
    tagged = geotag_events(df).withColumn(
        f"cell_l{level}", s2f.cell_parent(F.col("cell_id"), level))
    if tagged.isStreaming:
        tagged = tagged.withWatermark("ts", watermark)
    return (tagged
            .groupBy(F.session_window("ts", gap).alias("w"),
                     f"cell_l{level}")
            .agg(F.count("*").alias("n_events"),
                 F.size(F.collect_set("user_id")).cast("bigint")
                 .alias("n_users"))
            .select(F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    f"cell_l{level}", "n_events", "n_users"))


def run_session_stream_to_memory(spark: SparkSession, events_dir: str,
                                 table: str = "stream_sessions",
                                 watermark: str = "12 hours") -> None:
    """Drive the session-window aggregation to a memory sink (complete
    mode re-emits the full session table each batch, so the final table
    equals the batch computation without waiting for the watermark).

    Watermark caveat for REPLAYS: the watermark lags the max event time
    seen so far, so replaying a long history from files that are not in
    chronological order marks most events late and drops them — correct
    streaming semantics, wrong for a backfill.  Replays must either
    feed files in event-time order or pass a watermark wider than the
    historical span (live in-order streams keep the tight default)."""
    src = stream_events_from_dir(spark, events_dir)
    agg = cell_session_windows(src, watermark=watermark)
    q = (agg.writeStream.format("memory").queryName(table)
         .outputMode("complete").start())
    q.processAllAvailable()
    q.stop()


def run_stream_to_memory(spark: SparkSession, events_dir: str,
                         table: str = "stream_cells") -> None:
    """Drive the windowed aggregation to a memory sink until all input
    is processed (complete mode: late data folds into final counts)."""
    src = stream_events_from_dir(spark, events_dir)
    agg = windowed_cell_counts(src)
    q = (agg.writeStream.format("memory").queryName(table)
         .outputMode("complete").start())
    q.processAllAvailable()
    q.stop()


# ---------------------------------------------------------------------------
# custom stateful operator: per-cell session state via
# applyInPandasWithState (the "custom stateful operators" surface of the
# north star's streaming guidance)
# ---------------------------------------------------------------------------

CELL_STATE_SCHEMA = ("cell_l8 long, n_events long, n_users long, "
                     "first_seen timestamp, last_seen timestamp")
_STATE_SCHEMA = "n long, kmv array<long>, first timestamp, last timestamp"

# KMV (k-minimum-values) distinct sketch: keep the K smallest distinct
# 63-bit hashes of user ids.  Exact while <K distinct users have been
# seen; beyond that, estimate = (K-1) * 2^63 / kth_smallest_hash.
# Fixed-size state regardless of stream length (the r2 truncated-list
# bug silently re-counted dropped users past 1000).
# KMV sketch size.  The stream==batch tests and the cell_sessions
# oracle compare this against exact COUNT(DISTINCT), so the sketch must
# stay EXACT (len < K) at every scale those gates run: the synthetic
# events table carries ~15k distinct users per 1M events at sf1 and a
# single hot cell can hold all of them, so K = 65536 gives >4x headroom
# through sf1 while still bounding state per cell at 512 KB.  Beyond
# that cardinality the estimate is +-~0.4% and the exact-comparison
# gates must switch to a tolerance — loudly, not silently.
KMV_K = 65536
_H63 = 1 << 63


def _kmv_hashes(user_ids) -> "np.ndarray":
    """splitmix64 finalizer over int64 user ids, masked to 63 bits so
    the values order correctly as signed longs in the state store."""
    import numpy as np
    x = np.asarray(user_ids, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x >> np.uint64(1)).astype(np.int64)  # 63-bit, nonnegative


def _kmv_estimate(hashes: list[int]) -> int:
    if len(hashes) < KMV_K:
        return len(hashes)
    return int(round((KMV_K - 1) * _H63 / hashes[-1]))


def cell_session_state(df: DataFrame, level: int = 8,
                       idle_timeout_ms: int = 3_600_000) -> DataFrame:
    """Custom stateful per-cell tracker: running event count, distinct
    users (KMV sketch — bounded state, exact below KMV_K=65536 distinct
    users per cell, ±~0.4% estimate beyond), first/last event time.  State
    is kept per level-8 cell with a PROCESSING-TIME TIMEOUT: a cell idle
    for `idle_timeout_ms` has its state dropped from the store, so state
    size on an unbounded stream is bounded by the active-tile working
    set, not the lifetime tile count.  The distributed analogue of an
    in-memory per-tile accumulator; state lives in the state store, keyed
    by cell, and survives micro-batches.

    Batch inputs fall back to the equivalent groupBy aggregate (same
    output schema) so stream==batch tests can compare results (exact
    while per-cell distinct users < KMV_K)."""
    import numpy as np
    import pandas as pd

    tagged = geotag_events(df).withColumn(
        "cell_l8", s2f.cell_parent(F.col("cell_id"), level))

    if not tagged.isStreaming:
        return (tagged.groupBy("cell_l8")
                .agg(F.count("*").alias("n_events"),
                     F.countDistinct("user_id").alias("n_users"),
                     F.min("ts").alias("first_seen"),
                     F.max("ts").alias("last_seen")))

    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n = 0
        kmv: list[int] = []
        first = None
        last = None
        if state.exists:
            n, kmv, first, last = state.get
            kmv = list(kmv)
        new_hashes = []
        for pdf in pdfs:
            n += len(pdf)
            new_hashes.append(_kmv_hashes(pdf["user_id"].to_numpy()))
            lo = pdf["ts"].min()
            hi = pdf["ts"].max()
            first = lo if first is None else min(first, lo)
            last = hi if last is None else max(last, hi)
        if new_hashes:
            merged = np.unique(np.concatenate(
                [np.asarray(kmv, dtype=np.int64)] + new_hashes))
            kmv = merged[:KMV_K].tolist()
        state.update((n, kmv, first, last))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({"cell_l8": [key[0]], "n_events": [n],
                            "n_users": [_kmv_estimate(kmv)],
                            "first_seen": [first], "last_seen": [last]})

    return (tagged.groupBy("cell_l8")
            .applyInPandasWithState(
                update, CELL_STATE_SCHEMA, _STATE_SCHEMA, "update",
                GroupStateTimeout.ProcessingTimeTimeout))


def _drain_and_stop(q, idle_polls: int = 4, poll_s: float = 0.25,
                    max_wait_s: float = 300.0) -> None:
    """Stop a stateful query once its SOURCE is drained.  With
    ProcessingTimeTimeout neither `processAllAvailable()` nor
    Trigger.AvailableNow ever settles: the engine keeps running
    micro-batches back-to-back to evaluate pending state timeouts, so
    any wait-for-termination driver spins until the idle timeout
    elapses (an hour, by default, at the production setting), and
    `q.status` never reads idle either.  The reliable drain signal is
    progress-based: a COMPLETED batch with numInputRows == 0 after at
    least one data batch means the file source listed no new files —
    every input file is committed and the remaining activity is
    timeout bookkeeping, which a bounded run doesn't need to wait
    for.  (Timed-out keys are evaluated inside whatever batch runs
    after their deadline, so checkpoint-resumed runs still observe
    expirations during their data batches.)"""
    import time
    deadline = time.monotonic() + max_wait_s
    saw_data = False  # latched: recentProgress is a RING capped at
    # spark.sql.streaming.numRecentProgressUpdates (default 100), so a
    # long run of timeout-only empty batches would evict the data batch
    # and un-set a recomputed flag; once observed, data stays observed.
    n_empty_only_polls = 0
    while True:
        if time.monotonic() > deadline:
            q.stop()
            raise TimeoutError("stream did not drain within "
                               f"{max_wait_s}s: {q.status}")
        time.sleep(poll_s)
        if not q.isActive:
            q.awaitTermination()  # surface the query's exception
            return
        # recentProgress accumulates THIS run's completed batches (ring
        # of 100 — far more than a poll interval can produce), so a data
        # batch can't slip between polls before being latched.  A
        # completed zero-input batch AFTER a data batch means the file
        # source listed no new files: drained.  A checkpoint-resumed run
        # may REPLAY the prior run's uncommitted (empty, timeout-only)
        # batch first, so an empty batch alone is not drain evidence —
        # without any data batch we only give up after many empty
        # batches (the caller-ran-with-no-new-files case).
        progs = q.recentProgress
        if not progs:
            continue
        if any(p["numInputRows"] > 0 for p in progs):
            saw_data = True
        if saw_data and progs[-1]["numInputRows"] == 0:
            break
        if not saw_data:
            n_empty_only_polls += 1
            if n_empty_only_polls >= 8 * idle_polls:
                break
    q.stop()


def run_stateful_stream_to_parquet(spark: SparkSession, events_dir: str,
                                   out_dir: str, checkpoint_dir: str,
                                   idle_timeout_ms: int = 3_600_000) -> None:
    """Production sink variant: per-batch state updates land as parquet
    files written BY THE EXECUTORS (foreachBatch -> DataFrame.write),
    nothing is collected to the driver.  Update-mode stateful output
    cannot use the built-in parquet sink (append-only), so the standard
    production shape is foreachBatch + append write with the batch id
    stamped on every row; a restart that replays an uncommitted batch
    rewrites the same batch_id, and readers take the latest batch per
    cell (`latest_cell_state`), making the sink effectively idempotent
    at the state level.  Resume-safe via the query checkpoint."""
    src = stream_events_from_dir(spark, events_dir)
    out = cell_session_state(src, idle_timeout_ms=idle_timeout_ms)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("append").parquet(out_dir))

    q = (out.writeStream.foreachBatch(sink).outputMode("update")
         .option("checkpointLocation", checkpoint_dir).start())
    _drain_and_stop(q)


def latest_cell_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """Converged per-cell state from a parquet state-update log: the row
    from the highest batch that touched each cell (ties broken by
    n_events, monotone within a cell)."""
    from pyspark.sql import Window
    df = spark.read.parquet(out_dir)
    w = Window.partitionBy("cell_l8").orderBy(
        F.desc("batch_id"), F.desc("n_events"))
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "batch_id"))


def run_stateful_stream_to_memory(spark: SparkSession, events_dir: str,
                                  table: str = "stream_state",
                                  idle_timeout_ms: int = 3_600_000) -> None:
    """One bounded pass: processes every pending file (one micro-batch
    each), then stops via the drain-poll driver above.  The memory sink
    refuses checkpoint recovery: to resume the state store across runs
    use run_stateful_stream_to_parquet (processing-time timeouts fire on
    the first batch of the next run once the idle window has
    elapsed)."""
    src = stream_events_from_dir(spark, events_dir)
    out = cell_session_state(src, idle_timeout_ms=idle_timeout_ms)
    q = (out.writeStream.format("memory").queryName(table)
         .outputMode("update").start())
    _drain_and_stop(q)


# ---------------------------------------------------------------------------
# custom stateful operator, event-time variant: per-cell SESSIONS with
# EventTimeTimeout — sessions close when the WATERMARK passes
# last_event + gap, so results are driven by event time, not wall
# clock, and bounded runs terminate normally (no ProcessingTimeTimeout
# drain trap: the engine only evaluates event-time timeouts when a
# batch advances the watermark, so processAllAvailable settles).
# ---------------------------------------------------------------------------

SESSION_OUT_SCHEMA = ("cell_l8 long, session_start timestamp, "
                      "last_seen timestamp, n_events long, n_users long")
_SESSION_STATE_SCHEMA = ("start timestamp, last timestamp, n long, "
                         "kmv array<long>")


def cell_sessions_event_time(df: DataFrame, level: int = 8,
                             gap_s: int = 7200,
                             watermark: str = "1 minute") -> DataFrame:
    """Custom stateful sessionizer (applyInPandasWithState +
    GroupStateTimeout.EventTimeTimeout): per-cell sessions split on a
    `gap_s` idle gap in EVENT time.  A session closes either inline
    (a later event in the same cell arrives past the gap) or via the
    event-time timeout when the watermark passes last_seen + gap —
    output rows are CLOSED sessions only, the streaming-native contract
    (late events within the watermark still extend their session;
    cell_session_windows is the declarative twin that re-emits open
    sessions instead)."""
    import pandas as pd

    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    tagged = geotag_events(df).withColumn(
        "cell_l8", s2f.cell_parent(F.col("cell_id"), level))
    if not tagged.isStreaming:
        raise ValueError("event-time sessionizer is streaming-only; "
                         "use cell_session_windows for batch")
    tagged = tagged.withWatermark("ts", watermark)
    gap = pd.Timedelta(seconds=gap_s)

    def update(key, pdfs, state: GroupState):
        import numpy as np

        def row(start, last, n, kmv):
            return pd.DataFrame(
                {"cell_l8": [key[0]], "session_start": [start],
                 "last_seen": [last], "n_events": [n],
                 "n_users": [_kmv_estimate(kmv)]})

        if state.hasTimedOut:
            start, last, n, kmv = state.get
            state.remove()
            yield row(start, last, n, list(kmv))
            return
        if state.exists:
            start, last, n, kmv = state.get
            kmv = list(kmv)
        else:
            start = last = None
            n = 0
            kmv = []
        events = pd.concat(list(pdfs)).sort_values("ts")
        for ts, uid in zip(events["ts"], events["user_id"]):
            if last is not None and ts - last > gap:
                yield row(start, last, n, kmv)  # closed inline
                start, n, kmv = None, 0, []
            if start is None:
                start = ts
            last = ts if last is None or ts > last else last
            h = int(_kmv_hashes(np.array([uid], dtype=np.int64))[0])
            if h not in kmv:
                kmv = sorted(set(kmv) | {h})[:KMV_K]
            n += 1
        state.update((start, last, n, kmv))
        state.setTimeoutTimestamp(int(
            (last + gap).value // 10**6))  # epoch millis
    return (tagged.groupBy("cell_l8")
            .applyInPandasWithState(
                update, SESSION_OUT_SCHEMA, _SESSION_STATE_SCHEMA,
                "append", GroupStateTimeout.EventTimeTimeout))


def run_event_sessions_to_memory(spark: SparkSession, events_dir: str,
                                 table: str = "event_sessions",
                                 gap_s: int = 7200) -> None:
    """Bounded run of the event-time sessionizer: processAllAvailable
    terminates normally (event-time timeouts fire inside data batches
    as the watermark advances — no drain-poll driver needed)."""
    src = stream_events_from_dir(spark, events_dir)
    out = cell_sessions_event_time(src, gap_s=gap_s)
    q = (out.writeStream.format("memory").queryName(table)
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
