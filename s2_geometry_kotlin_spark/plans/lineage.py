"""Per-partition lineage + resumable jobs (SURVEY.md §4.3.3).

The north_rule requires jobs resumable from checkpoint with per-partition
lineage and metrics.  On a real deployment the output table is Iceberg
and the lineage rows carry the Iceberg snapshot id per commit; the
sandbox has no Iceberg runtime, so outputs are partitioned parquet and
the lineage table is a parquet log with the same schema
(job_id, partition_key, status, n_rows, wall_sec, committed_at,
snapshot_id) — the snapshot column holds the batch commit token here.

Layout under `output_dir`: `data/<col=value>/` holds the output,
`_lineage/` the log, `_staging/<job_id>/<attempt>/` an attempt's files
until they are published.

`run_resumable` reads its input once, in five steps:

1. recover: read the done keys from the lineage.  Partition directories
   that an earlier attempt of this job left in staging are moved into
   `data/` if their key is done (roll forward) and deleted otherwise
   (roll back);
2. stage: write the input, minus the done keys, partitioned, into a
   fresh attempt directory;
3. count: take each staged partition's row count from its files'
   Parquet footers, with no Spark job.  The key is the `col=value`
   directory name, unescaped as Spark escaped it; Spark's default
   partition name stands for null;
4. commit: call the snapshot provider, then append the lineage rows as
   one file.  That append is the commit point;
5. publish: roll the staged partitions forward as step 1 does, moving
   their files into `data/<col=value>/`, and remove the job's staging
   directory.

A crash before the commit leaves no lineage for the staged keys, so the
next run rolls them back and writes them again; a crash after it leaves
lineage for every staged key, so the next run rolls them forward.
Either way `data/` ends with each input row exactly once.  The rule
assumes one attempt of a job runs at a time: step 1 treats any staged
files of the job as left by a crashed attempt.

Resume protocol: done partition keys are filtered away before any work
happens, so a restarted job only touches unfinished partitions.

File operations go through the session's Hadoop FileSystem: listing,
footer reads and renames stay in the JVM, and on a checksummed local
filesystem a rename carries the `.crc` sidecar with its file.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

LINEAGE_SCHEMA = ("job_id string, partition_key string, status string, "
                  "n_rows long, wall_sec double, committed_at timestamp, "
                  "snapshot_id string")


def _lineage_path(output_dir: str) -> str:
    return os.path.join(output_dir, "_lineage")


class _Hadoop:
    """The session's Hadoop FileSystem, and the JVM classes the write
    protocol reads footers and partition names with."""

    def __init__(self, spark: SparkSession, path: str):
        self.jvm = spark._jvm
        self.conf = spark._jsc.hadoopConfiguration()
        self.fs = self.path(path).getFileSystem(self.conf)
        self.catalog = \
            self.jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

    def path(self, parent, child: str | None = None):
        Path = self.jvm.org.apache.hadoop.fs.Path
        return Path(parent) if child is None else Path(parent, child)

    def children(self, path) -> list:
        """FileStatus of each entry under `path`; none if it is missing."""
        return list(self.fs.listStatus(path)) if self.fs.exists(path) \
            else []

    def partition_dirs(self, path) -> list[tuple[str | None, object]]:
        """(key, Path) of each `col=value` directory under `path`."""
        out = []
        for st in self.children(path):
            name = st.getPath().getName()
            if st.isDirectory() and "=" in name:
                value = name.partition("=")[2]
                key = None if value == self.catalog.DEFAULT_PARTITION_NAME() \
                    else self.catalog.unescapePathName(value)
                out.append((key, st.getPath()))
        return out


def completed_partitions(spark: SparkSession, output_dir: str,
                         job_id: str) -> set[str | None]:
    """Partition keys the lineage records as done for `job_id`.  Only a
    missing lineage directory means none are done: any other read error
    propagates, because a resume that took an unreadable log for an
    empty one would write every partition again."""
    path = _lineage_path(output_dir)
    h = _Hadoop(spark, path)
    if not h.fs.exists(h.path(path)):
        return set()
    df = spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    rows = (df.where((F.col("job_id") == job_id) &
                     (F.col("status") == "done"))
            .select("partition_key").distinct().collect())
    return {r[0] for r in rows}


def parquet_snapshot_provider(spark: SparkSession, output_dir: str) -> str:
    """Default snapshot provider: a fresh commit token (parquet has no
    table-level snapshots).  On an Iceberg deployment, pass
    `iceberg_snapshot_provider` instead."""
    return uuid.uuid4().hex


def iceberg_snapshot_provider(table: str):
    """Snapshot provider for Iceberg sinks: resolves the table's current
    snapshot id, so lineage rows pin the exact Iceberg snapshot a
    partition landed in (north_rule: resumable from Iceberg-snapshot
    checkpoints).  `run_resumable` calls a provider after the staged
    write and before the lineage commit; if it raises, nothing is
    committed and the next run writes those partitions again.  Usable
    only where an Iceberg catalog is configured; the sandbox has no
    Iceberg runtime, so this is exercised by tests through a stub
    provider with the same signature."""
    def provide(spark: SparkSession, output_dir: str) -> str:
        row = spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1").collect()
        return str(row[0][0]) if row else ""
    return provide


def _key_in(col: Column, keys: set[str | None]) -> Column:
    """`col IN keys`, never null; a None key matches a null `col`."""
    named = sorted(k for k in keys if k is not None)
    cond = col.isin(named) if named else F.lit(False)
    if None in keys:
        cond = cond | col.isNull()
    return F.coalesce(cond, F.lit(False))


def _stage(work: DataFrame, partition_col: str, path: str) -> None:
    work.write.partitionBy(partition_col).parquet(path)


def _footer_rows(h: _Hadoop, status) -> int:
    reader = h.jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        h.jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            status, h.conf))
    try:
        return int(reader.getRecordCount())
    finally:
        reader.close()


def _staged_counts(h: _Hadoop, attempt) -> dict[str | None, int]:
    return {key: sum(_footer_rows(h, st) for st in h.children(part)
                     if not st.getPath().getName().startswith(("_", ".")))
            for key, part in h.partition_dirs(attempt)}


def _move_partition(h: _Hadoop, part, data) -> None:
    """Move one staged partition directory's files into `data/`."""
    dst = h.path(data, part.getName())
    h.fs.mkdirs(dst)
    for st in h.children(part):
        src = st.getPath()
        if not h.fs.rename(src, h.path(dst, src.getName())):
            raise OSError(f"could not move {src} into {dst}")
    h.fs.delete(part, True)


def _roll_staged(h: _Hadoop, job_staging, data,
                 committed: set[str | None]) -> None:
    """Roll forward the staged partitions whose keys are committed (move
    them into `data/`), and roll back the rest (delete them)."""
    for attempt in h.children(job_staging):
        for key, part in h.partition_dirs(attempt.getPath()):
            if key in committed:
                _move_partition(h, part, data)
        h.fs.delete(attempt.getPath(), True)


def _drop_staging(h: _Hadoop, output_dir: str, job_staging) -> None:
    h.fs.delete(job_staging, True)
    root = h.path(os.path.join(output_dir, "_staging"))
    if not h.children(root):
        h.fs.delete(root, False)


def run_resumable(spark: SparkSession, df: DataFrame, partition_col: str,
                  output_dir: str, job_id: str,
                  only_partitions: set[str | None] | None = None,
                  snapshot_provider=None) -> dict:
    """Write `df` partitioned by `partition_col` into `output_dir/data`,
    skipping partitions the lineage already records as done, and append
    one lineage row per written partition.  `only_partitions` restricts
    the run (used by tests to simulate an interrupted job).  Returns
    metrics.

    The input is computed once: recover earlier attempts, stage the
    write, count rows from the staged Parquet footers, commit by
    appending the lineage, then publish the staged files (see the module
    docstring for the recovery rule).  A null key, or an empty string,
    which Spark stores as null, is the partition key None.

    `snapshot_provider(spark, output_dir) -> str` pins each lineage row
    to the sink's commit snapshot (Iceberg snapshot id on a real
    deployment; a parquet commit token here).  It runs after the staged
    write and before the lineage commit."""
    t0 = time.time()
    h = _Hadoop(spark, output_dir)
    data = h.path(os.path.join(output_dir, "data"))
    job_staging = h.path(os.path.join(output_dir, "_staging", job_id))
    done = completed_partitions(spark, output_dir, job_id)
    _roll_staged(h, job_staging, data, done)

    pk = F.col(partition_col).cast("string")
    work = df.withColumn("__pk", F.when(pk != "", pk))
    if done:
        work = work.where(~_key_in(F.col("__pk"), done))
    if only_partitions is not None:
        work = work.where(_key_in(F.col("__pk"), only_partitions))
    attempt_dir = os.path.join(output_dir, "_staging", job_id,
                               uuid.uuid4().hex)
    _stage(work.drop(partition_col).withColumnRenamed("__pk", partition_col),
           partition_col, attempt_dir)
    attempt = h.path(attempt_dir)
    counts = _staged_counts(h, attempt)
    if not counts:
        _drop_staging(h, output_dir, job_staging)
        return {"written_partitions": 0, "skipped": len(done),
                "wall_sec": round(time.time() - t0, 3)}

    provider = snapshot_provider or parquet_snapshot_provider
    snapshot = provider(spark, output_dir)
    wall = time.time() - t0
    lineage_rows = [(job_id, key, "done", n, round(wall, 3), None, snapshot)
                    for key, n in counts.items()]
    (local_frame(spark, lineage_rows, LINEAGE_SCHEMA)
     .withColumn("committed_at", F.current_timestamp())
     .coalesce(1).write.mode("append").parquet(_lineage_path(output_dir)))
    _roll_staged(h, job_staging, data, set(counts))
    _drop_staging(h, output_dir, job_staging)
    return {"written_partitions": len(counts), "skipped": len(done),
            "rows": sum(counts.values()),
            "wall_sec": round(wall, 3), "snapshot_id": snapshot}
