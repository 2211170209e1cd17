"""Resume protocol: an interrupted partitioned job completes on rerun
without recomputing finished partitions."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_kotlin_spark.session import get_spark
    s = get_spark("lineage-tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_resume_skips_completed_partitions(spark, tmp_path_factory):
    from s2_geometry_kotlin_spark import functions as s2f
    from s2_geometry_kotlin_spark.plans import lineage as L
    from s2_geometry_kotlin_spark.sources import pages as P

    out = str(tmp_path_factory.mktemp("resumable_out"))
    geo = (P.geoparse(P.load_pages(spark, "/root/testdata/sf0.001"))
           .where(F.col("lat").isNotNull())
           .select("url", "lat", "lon")
           .withColumn("cell_id", s2f.s2_cellid("lat", "lon"))
           .withColumn("face", F.shiftrightunsigned("cell_id", 61)
                       .cast("string")))

    all_faces = {r[0] for r in geo.select("face").distinct().collect()}
    assert len(all_faces) >= 4
    half = set(sorted(all_faces)[: len(all_faces) // 2])

    # "crash" after writing only half the partitions
    m1 = L.run_resumable(spark, geo, "face", out, "job1",
                         only_partitions=half)
    assert m1["written_partitions"] == len(half)
    assert L.completed_partitions(spark, out, "job1") == half

    # resume: finishes the rest, skips the done ones
    m2 = L.run_resumable(spark, geo, "face", out, "job1")
    assert m2["written_partitions"] == len(all_faces) - len(half)
    assert m2["skipped"] == len(half)

    # third run is a no-op
    m3 = L.run_resumable(spark, geo, "face", out, "job1")
    assert m3["written_partitions"] == 0

    # output equals the full dataset exactly (no dups, no gaps)
    got = spark.read.parquet(f"{out}/data")
    assert got.count() == geo.count()
    assert got.select("url").distinct().count() == \
        geo.select("url").distinct().count()


def test_pluggable_snapshot_provider(spark, tmp_path_factory):
    """Lineage rows pin the snapshot id returned by the injected
    provider (Iceberg snapshot id on a real deployment)."""
    from pyspark.sql import functions as F
    from s2_geometry_kotlin_spark.plans import lineage as L

    out = str(tmp_path_factory.mktemp("snap_out"))
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("bucket"))
    calls = []

    def fake_iceberg_provider(spark_, output_dir_):
        calls.append(output_dir_)
        return f"iceberg-snap-{len(calls)}"

    m1 = L.run_resumable(spark, df, "bucket", out, "jobS",
                         only_partitions={"0"},
                         snapshot_provider=fake_iceberg_provider)
    assert m1["snapshot_id"] == "iceberg-snap-1"
    m2 = L.run_resumable(spark, df, "bucket", out, "jobS",
                         snapshot_provider=fake_iceberg_provider)
    assert m2["snapshot_id"] == "iceberg-snap-2"
    assert m2["skipped"] == 1
    lin = spark.read.parquet(f"{out}/_lineage")
    snaps = {r["partition_key"]: r["snapshot_id"] for r in lin.collect()}
    # each partition's lineage row carries the snapshot of ITS commit
    assert snaps["0"] == "iceberg-snap-1"
    assert snaps["1"] == snaps["2"] == "iceberg-snap-2"


def test_iceberg_snapshot_provider_reads_latest_snapshot():
    """The Iceberg provider asks the table's snapshots metadata table
    for the newest id ("" for a table with no snapshot yet); a stub
    session stands in for an Iceberg catalog."""
    from s2_geometry_kotlin_spark.plans import lineage as L

    class Stub:
        def __init__(self, rows):
            self.rows, self.sql_seen = rows, []

        def sql(self, text):
            self.sql_seen.append(text)
            return self

        def collect(self):
            return self.rows

    provide = L.iceberg_snapshot_provider("cat.db.pages")
    s = Stub([(8155,)])
    assert provide(s, "/unused") == "8155"
    assert s.sql_seen == ["SELECT snapshot_id FROM cat.db.pages.snapshots "
                          "ORDER BY committed_at DESC LIMIT 1"]
    assert provide(Stub([]), "/unused") == ""


def _bucketed(spark, n=90, buckets=3):
    return spark.range(n).select(
        F.col("id"), (F.col("id") % buckets).cast("string").alias("bucket"))


def _lineage_rows(spark, out):
    return spark.read.parquet(f"{out}/_lineage").collect()


def test_input_is_computed_once(spark, tmp_path):
    """The old tree computed the input twice, once for the per-partition
    counts and once for the write: the accumulator read 2x the rows."""
    from s2_geometry_kotlin_spark.plans import lineage as L

    acc = spark.sparkContext.accumulator(0)

    def tag(x):
        acc.add(1)
        return x

    # the partition key depends on the UDF, so the old count needed it
    df = spark.range(60).select(F.udf(tag, "long")("id").alias("id")) \
        .withColumn("bucket", (F.col("id") % 3).cast("string"))
    m = L.run_resumable(spark, df, "bucket", str(tmp_path), "jobOnce")
    assert m["rows"] == 60 and m["written_partitions"] == 3
    assert acc.value == 60


def test_unreadable_lineage_fails_loudly(spark, tmp_path):
    """The old tree took any lineage read error for "nothing done", so
    the resume appended every partition again instead of raising."""
    import glob
    import os

    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from s2_geometry_kotlin_spark.plans import lineage as L

    out = str(tmp_path)
    df = _bucketed(spark)
    L.run_resumable(spark, df, "bucket", out, "jobT", only_partitions={"0"})
    before = spark.read.parquet(f"{out}/data").count()
    for lin in glob.glob(f"{out}/_lineage/*.parquet"):
        with open(lin, "r+b") as f:
            f.truncate(os.path.getsize(lin) // 2)
    for crc in glob.glob(f"{out}/_lineage/.*.crc"):
        os.remove(crc)
    with pytest.raises((Py4JJavaError, PySparkException)):
        L.run_resumable(spark, df, "bucket", out, "jobT")
    assert spark.read.parquet(f"{out}/data").count() == before == 30


@pytest.mark.parametrize("resume", [False, True])
def test_null_and_escaped_partition_keys(spark, tmp_path, resume):
    """On the old tree the resume dropped the null-key rows (80 of 100
    written: `~isin(done)` is null for a null key), and a rerun after a
    full run raised TypeError in `sorted(done)` (None < str)."""
    from s2_geometry_kotlin_spark.plans import lineage as L

    keys = ["a/b", "x=y", "sp ace", "plain", None]
    df = spark.createDataFrame([(i, keys[i % 5]) for i in range(100)],
                               "id long, k string")
    out = str(tmp_path)
    if resume:
        m0 = L.run_resumable(spark, df, "k", out, "jobK",
                             only_partitions={"plain"})
        assert m0["rows"] == 20
    m1 = L.run_resumable(spark, df, "k", out, "jobK")
    assert m1["rows"] == (80 if resume else 100)
    m2 = L.run_resumable(spark, df, "k", out, "jobK")
    assert m2["written_partitions"] == 0
    assert spark.read.parquet(f"{out}/data").count() == 100
    lin = _lineage_rows(spark, out)
    assert len(lin) == 5
    assert {r["partition_key"]: r["n_rows"] for r in lin} == \
        {k: 20 for k in keys}
    got = spark.read.parquet(f"{out}/data").groupBy("k").count().collect()
    assert {r["k"]: r["count"] for r in got} == {k: 20 for k in keys}


def test_empty_string_key_is_the_null_partition(spark, tmp_path):
    """Spark stores an empty-string partition value as null, so its
    lineage key is None, and a rerun must not write it again."""
    from s2_geometry_kotlin_spark.plans import lineage as L

    df = spark.createDataFrame([(i, ["", "e"][i % 2]) for i in range(10)],
                               "id long, k string")
    out = str(tmp_path)
    L.run_resumable(spark, df, "k", out, "jobE")
    assert L.run_resumable(spark, df, "k", out,
                           "jobE")["written_partitions"] == 0
    assert spark.read.parquet(f"{out}/data").count() == 10
    assert {r["partition_key"]: r["n_rows"]
            for r in _lineage_rows(spark, out)} == {None: 5, "e": 5}


class _Crash(RuntimeError):
    pass


def _crash_after_stage(monkeypatch, L):
    real = L._stage

    def stage(*a):
        real(*a)
        raise _Crash("after staging")
    monkeypatch.setattr(L, "_stage", stage)


def _crash_in_count(monkeypatch, L):
    def footer_rows(*a):
        raise _Crash("in the footer count")
    monkeypatch.setattr(L, "_footer_rows", footer_rows)


def _crash_at_move(n):
    def crash(monkeypatch, L):
        real, calls = L._move_partition, []

        def move(*a):
            calls.append(a)
            if len(calls) == n:
                raise _Crash(f"at staged partition move {n}")
            real(*a)
        monkeypatch.setattr(L, "_move_partition", move)
    return crash


# the crashing run publishes two partitions: before the first move is
# between the lineage append and publish, before the second is midway
_crash_before_publish = _crash_at_move(1)
_crash_mid_publish = _crash_at_move(2)


@pytest.mark.parametrize("crash", [
    _crash_after_stage, _crash_in_count, "provider", _crash_before_publish,
    _crash_mid_publish], ids=[
    "after_stage", "in_count", "provider", "before_publish", "mid_publish"])
def test_crash_at_each_step_resumes_exactly(spark, tmp_path, monkeypatch,
                                            crash):
    """A crash at any step of an attempt, then a rerun, leaves each
    input row in data/ exactly once, one lineage row per partition and
    no staging.  On the old tree a provider that raised left the rows
    written with no lineage, and the rerun wrote them again."""
    import os

    from s2_geometry_kotlin_spark.plans import lineage as L

    out = str(tmp_path)
    df = _bucketed(spark)
    L.run_resumable(spark, df, "bucket", out, "jobC", only_partitions={"0"})
    provider = None
    if crash == "provider":
        raised = []

        def provider(spark_, output_dir_):
            if not raised:
                raised.append(1)
                raise _Crash("in the snapshot provider")
            return "snap"
    else:
        crash(monkeypatch, L)
    with pytest.raises(_Crash):
        L.run_resumable(spark, df, "bucket", out, "jobC",
                        snapshot_provider=provider)
    monkeypatch.undo()
    L.run_resumable(spark, df, "bucket", out, "jobC",
                    snapshot_provider=provider)

    got = sorted(r["id"] for r in
                 spark.read.parquet(f"{out}/data").select("id").collect())
    assert got == list(range(90))
    lin = _lineage_rows(spark, out)
    assert sorted(r["partition_key"] for r in lin) == ["0", "1", "2"]
    assert all(r["n_rows"] == 30 for r in lin)
    assert not os.path.exists(f"{out}/_staging")


def test_session_warmup_table_is_per_app_and_removed(spark, monkeypatch):
    """The old tree wrote every session's warm-up table to one fixed
    /tmp path and left it there."""
    import os

    from s2_geometry_kotlin_spark import session as S

    removed = []
    real = S.shutil.rmtree

    def rmtree(path, **kw):
        removed.append(path)
        real(path, **kw)
    monkeypatch.setattr(S, "_WARMED", set())
    monkeypatch.setattr(S.shutil, "rmtree", rmtree)
    S._warm_session(spark)
    app = spark.sparkContext.applicationId
    assert len(removed) == 1 and app in os.path.basename(removed[0])
    assert not os.path.exists(removed[0])
