"""Streaming-vs-batch equivalence: replay the events parquet through the
file stream source and assert the watermarked windowed cell counts equal
the batch computation."""

import shutil

import pytest


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_kotlin_spark.session import get_spark
    s = get_spark("streaming-tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_stream_matches_batch(spark, tmp_path_factory):
    from s2_geometry_kotlin_spark import streaming as st

    # stage the events file into a directory; split into 3 micro-batches
    src = "/root/testdata/sf0.001/events.parquet"
    events_dir = str(tmp_path_factory.mktemp("events_stream"))
    batch = spark.read.parquet(src)
    batch.repartition(3).write.mode("overwrite").parquet(events_dir)

    st.run_stream_to_memory(spark, events_dir, table="stream_cells")
    got = {tuple(r) for r in spark.table("stream_cells").collect()}

    expect_df = st.windowed_cell_counts(spark.read.parquet(events_dir))
    expect = {tuple(r) for r in expect_df.collect()}
    assert got == expect
    assert len(got) > 0
    shutil.rmtree(events_dir, ignore_errors=True)


def test_stateful_stream_matches_batch(spark, tmp_path_factory):
    """applyInPandasWithState per-cell tracker: the LAST update emitted
    per cell across micro-batches equals the batch aggregate."""
    from s2_geometry_kotlin_spark import streaming as st

    src = "/root/testdata/sf0.001/events.parquet"
    events_dir = str(tmp_path_factory.mktemp("events_state"))
    batch = spark.read.parquet(src)
    batch.repartition(3).write.mode("overwrite").parquet(events_dir)

    st.run_stateful_stream_to_memory(spark, events_dir,
                                     table="stream_state")
    rows = spark.table("stream_state").collect()
    # update mode re-emits a cell's row each micro-batch it changes in;
    # the final (max n_events) row per cell is the converged state
    final = {}
    for r in rows:
        cur = final.get(r["cell_l8"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["cell_l8"]] = r
    got = {(k, v["n_events"], v["n_users"], v["first_seen"],
            v["last_seen"]) for k, v in final.items()}

    expect_df = st.cell_session_state(spark.read.parquet(events_dir))
    expect = {tuple(r) for r in expect_df.collect()}
    assert got == expect
    assert len(got) > 0
    shutil.rmtree(events_dir, ignore_errors=True)


def _write_events(path, user_ids, ts_iso):
    """Write a single-micro-batch events parquet atomically."""
    import os

    import pandas as pd

    df = pd.DataFrame({
        "event_id": pd.array(range(len(user_ids)), dtype="int64"),
        "ts": pd.to_datetime([ts_iso] * len(user_ids)),
        "user_id": pd.array(user_ids, dtype="int64"),
        "event_type": ["click"] * len(user_ids),
        "value": [1.0] * len(user_ids),
        "props": ["{}"] * len(user_ids),
    })
    tmp = path + ".tmp"
    # microsecond timestamps: Spark's parquet reader rejects pandas'
    # default INT64 nanos against a TimestampType stream schema
    df.to_parquet(tmp, coerce_timestamps="us",
                  allow_truncated_timestamps=True)
    os.rename(tmp, path)


def test_kmv_sketch_exact_below_k_and_close_above():
    import numpy as np

    from s2_geometry_kotlin_spark import streaming as st

    # exact below K
    small = st._kmv_hashes(np.arange(500, dtype=np.int64))
    assert st._kmv_estimate(sorted(set(small.tolist()))) == 500
    # ±10% above K (100k distinct, duplicates mixed in)
    ids = np.concatenate([np.arange(100_000, dtype=np.int64)] * 3)
    h = np.unique(st._kmv_hashes(ids))
    kmv = np.sort(h)[: st.KMV_K].tolist()
    est = st._kmv_estimate(kmv)
    assert abs(est - 100_000) / 100_000 < 0.10, est


def test_stateful_state_expires_after_timeout(spark, tmp_path_factory):
    """ProcessingTimeTimeout drops idle per-cell state: after the idle
    window, a cell's counters restart instead of accumulating."""
    import time

    from s2_geometry_kotlin_spark import streaming as st

    events_dir = str(tmp_path_factory.mktemp("events_expiry"))
    users_a = [1, 2, 3]
    users_b = [55_000_001, 55_000_002]

    # preflight: the two user sets must land in disjoint level-8 cells,
    # else batch B would refresh A's state and mask the timeout
    def cells_of(users):
        df = spark.createDataFrame([(int(u),) for u in users],
                                   "user_id long")
        tagged = st.geotag_events(df)
        from s2_geometry_kotlin_spark import functions as s2f
        from pyspark.sql import functions as F
        return {r[0] for r in tagged.select(
            s2f.cell_parent(F.col("cell_id"), 8)).collect()}

    cells_a, cells_b = cells_of(users_a), cells_of(users_b)
    assert not (cells_a & cells_b)

    ckpt = str(tmp_path_factory.mktemp("expiry_ckpt"))
    out_root = str(tmp_path_factory.mktemp("expiry_out"))

    def run_once(run):
        # one output directory per run: run 3's rows alone show whether
        # A's state restarted
        out_dir = f"{out_root}/{run}"
        st.run_stateful_stream_to_parquet(spark, events_dir, out_dir, ckpt,
                                          idle_timeout_ms=800)
        return out_dir

    _write_events(f"{events_dir}/a.parquet", users_a, "2024-01-01")
    run_once("run1")
    time.sleep(1.6)  # exceed the 800ms idle timeout
    # run 2 carries only B-cells; A-cells are idle+expired, so its batch
    # fires their timed-out invocation -> state removed
    _write_events(f"{events_dir}/b.parquet", users_b, "2024-01-02")
    run_once("run2")
    _write_events(f"{events_dir}/c.parquet", users_a, "2024-01-03")
    out3 = run_once("run3")

    rows = st.latest_cell_state(spark, out3).collect()
    latest = {r["cell_l8"]: r for r in rows if r["cell_l8"] in cells_a}
    assert set(latest) == cells_a
    import datetime
    for r in latest.values():
        assert r["first_seen"].date() == datetime.date(2024, 1, 3), \
            "state survived the idle timeout (first_seen not reset)"
    # n_events restarted: equals batch-C-only counts, not 2x
    batch_c = st.cell_session_state(
        spark.read.parquet(f"{events_dir}/c.parquet"))
    for r in batch_c.collect():
        assert latest[r["cell_l8"]]["n_events"] == r["n_events"]


def test_stateful_parquet_sink_resumes_without_driver_collect(
        spark, tmp_path_factory):
    """Production sink variant: executor-side parquet writes via
    foreachBatch, checkpoint-resumed across runs; the converged state
    read back from the files equals the batch twin over ALL events."""
    from s2_geometry_kotlin_spark import streaming as st

    events_dir = str(tmp_path_factory.mktemp("events_pq"))
    out_dir = str(tmp_path_factory.mktemp("state_pq")) + "/out"
    ckpt = str(tmp_path_factory.mktemp("pq_ckpt"))

    _write_events(f"{events_dir}/a.parquet", [1, 2, 3, 2], "2024-02-01")
    st.run_stateful_stream_to_parquet(spark, events_dir, out_dir, ckpt)
    # second run resumes from the checkpoint and processes only the new
    # file; state (n_events, first_seen) must carry over
    _write_events(f"{events_dir}/b.parquet", [2, 3, 4], "2024-02-02")
    st.run_stateful_stream_to_parquet(spark, events_dir, out_dir, ckpt)

    got_df = st.latest_cell_state(spark, out_dir)
    assert "batch_id" not in got_df.columns
    got = {tuple(r) for r in got_df.collect()}
    expect_df = st.cell_session_state(spark.read.parquet(events_dir))
    expect = {tuple(r) for r in expect_df.collect()}
    assert got == expect
    assert len(got) > 0


def test_session_windows_stream_matches_batch(spark, tmp_path_factory):
    """Declarative session windows (F.session_window): the streaming
    aggregation in complete mode converges to the batch computation on
    the same events, including sessions still open at end-of-input."""
    from s2_geometry_kotlin_spark import streaming as st

    src = "/root/testdata/sf0.001/events.parquet"
    events_dir = str(tmp_path_factory.mktemp("events_sessions"))
    batch = spark.read.parquet(src)
    batch.repartition(3).write.mode("overwrite").parquet(events_dir)

    # the replayed files are NOT in event-time order (repartition
    # shuffles a month of history), so the watermark must exceed the
    # span or late-drop semantics kick in — see the operator docstring
    st.run_session_stream_to_memory(spark, events_dir,
                                    table="stream_sessions",
                                    watermark="40 days")
    got = {tuple(r) for r in spark.table("stream_sessions").collect()}
    expect_df = st.cell_session_windows(spark.read.parquet(events_dir))
    expect = {tuple(r) for r in expect_df.collect()}
    assert got == expect
    # the 6h gap over 30 days of sparse events must actually split
    # cells into multiple sessions, else the operator isn't exercised
    cells = [t[2] for t in expect]
    assert len(cells) > len(set(cells))


def test_event_time_sessions_match_batch(spark, tmp_path_factory):
    """EventTimeTimeout sessionizer: chronological replay closes every
    session either inline (next event past the gap) or via the
    event-time timeout once a sentinel event advances the watermark;
    the closed-session table equals the batch sessionization."""
    import os
    import time

    import pandas as pd

    from pyspark.sql import functions as F

    from s2_geometry_kotlin_spark import streaming as st

    src = "/root/testdata/sf0.001/events.parquet"
    events_dir = str(tmp_path_factory.mktemp("events_evt"))
    pdf = pd.read_parquet(src).sort_values("ts").reset_index(drop=True)
    thirds = [pdf.iloc[:330], pdf.iloc[330:660], pdf.iloc[660:]]
    for i, chunk in enumerate(thirds):
        path = f"{events_dir}/part-{i}.parquet"
        chunk.to_parquet(path, coerce_timestamps="us",
                         allow_truncated_timestamps=True)
        os.utime(path, (time.time() + i, time.time() + i))
    # sentinel far-future event in a DISJOINT cell pushes the watermark
    # past every real session's end
    sentinel_user = 55_000_001
    from s2_geometry_kotlin_spark import functions as s2f
    real_cells = {r[0] for r in st.geotag_events(
        spark.read.parquet(events_dir)).select(
            s2f.cell_parent(F.col("cell_id"), 8)).distinct().collect()}
    sent_cell = {r[0] for r in st.geotag_events(
        spark.createDataFrame([(sentinel_user,)], "user_id long"))
        .select(s2f.cell_parent(F.col("cell_id"), 8)).collect()}
    assert not (real_cells & sent_cell)
    _write_events(f"{events_dir}/part-9.parquet", [sentinel_user],
                  "2024-06-01")
    os.utime(f"{events_dir}/part-9.parquet",
             (time.time() + 10, time.time() + 10))

    st.run_event_sessions_to_memory(spark, events_dir,
                                    table="event_sessions")
    got = {tuple(r) for r in spark.table("event_sessions")
           .where(~F.col("cell_l8").isin(*sent_cell)).collect()}
    # batch expectation from the declarative twin: last = end - gap
    exp_df = (st.cell_session_windows(spark.read.parquet(src))
              .select("cell_l8", "session_start",
                      (F.col("session_end")
                       - F.expr("INTERVAL 2 HOURS")).alias("last_seen"),
                      "n_events", "n_users"))
    exp = {(r["cell_l8"], r["session_start"], r["last_seen"],
            r["n_events"], r["n_users"]) for r in exp_df.collect()}
    assert got == exp
    assert len(got) > 10  # real multi-session workload
