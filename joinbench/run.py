"""Benchmark of the spatial-join engine, one workload per run.

    python3 joinbench/run.py --workload enrich --seed 1 --seconds 20 --trace 0

Run from the repository root.  Workloads:

  enrich  stored pages table -> geoparse -> s2_cellid -> spatial_join
          against the fixture layer -> run_resumable write partitioned
          by layer, into a fresh output directory per op;
  nearby  knn_points(k=8) for the run's seeded batch of 24 query points
          over a Spark-cached (url, cell_id, x, y, z) table.

Every op's output is checked against the independent oracles in
oracles.py, after the timed loop, so that the driver's peak RSS is read
before any check runs.  The last line of stdout is one JSON object: correct,
attempted, failed and metrics (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1).  The line before it is the run's
reference record (host, master, calibration), which is not a metric.
All inputs and outputs live in a per-run directory under joinbench/_runs,
removed when the run ends; a traced run leaves its spans in
joinbench/_traces.
"""

from __future__ import annotations

# this file's directory leads sys.path
from tracing import STEAL_WEIGHT, clock, cpu_ms, tree_cpu_ms

T0 = clock()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "s2_geometry_kotlin_spark"
WORKLOADS = ("enrich", "nearby")

# input pages per run (10% carry no coordinates); nearby has more, so
# that knn_points starts from a radius below 8 degrees
N_PAGES = {"enrich": 25_000, "nearby": 50_000}
# untimed ops after the caches fill.  Ops keep getting cheaper while the
# JVM compiles (at local[1], enrich op wall time fell about 20% over the
# first three ops and nearby's about 15% over the first eight), and a
# run's median should not depend on how far along that curve its timed
# ops fall; more warm-up would not fit 48 runs into the time limit
WARMUP_OPS = {"enrich": 2, "nearby": 4}
# Spark cores.  One task thread and one Python worker at a time leave the
# 4-vCPU machine's other CPUs to the JIT and GC threads and the driver,
# so the scheduler does not stretch an op: on these inputs (a pages
# table of about 1 MB) an enrich op took 1.0-1.5 s at local[1] and
# 1.8-2.2 s at local[4] in the same hour, and used 40% less CPU
SPARK_CORES = 1
K = 8                     # neighbours per kNN query
N_HOT, N_UNIFORM, N_POLAR = 8, 8, 8   # kNN query mix per op
POLAR_MIN_LAT = 88.5      # polar queries: 8.5 degrees or more from any page
CITY_GAP_DEG = 20.0       # uniform queries: this far or more from a hot city
REF_ROWS = 8_000_000      # rows of the reference pass before each timed op


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: Path, cpus: int) -> None:
    """Keep Spark's scratch files, the Python workers' imports and the
    session inside the run directory, before pyspark starts a JVM."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM, the launcher's too: temp files in the run directory, no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={shlex.quote(str(tmp))}"
    conf = {"spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse")}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    sys.path.insert(0, str(ROOT))


def stored_pages(path: str):
    """(urls, unit vectors) of the pages with coordinates, parsed from
    the stored table's text by the benchmark itself."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from oracles import xyz
    t = pq.read_table(path, columns=["url", "text"])
    geo = pc.extract_regex(t["text"],
                           r"GEO\((?P<lat>-?\d+\.\d+);(?P<lon>-?\d+\.\d+)\)")
    has = pc.is_valid(geo).to_numpy(zero_copy_only=False)
    lat = pc.struct_field(geo, "lat").to_numpy(zero_copy_only=False)[has]
    lon = pc.struct_field(geo, "lon").to_numpy(zero_copy_only=False)[has]
    urls = t["url"].to_numpy(zero_copy_only=False)[has]
    return urls, xyz(lat.astype(np.float64), lon.astype(np.float64))


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    n = b = 0
    for p in path.rglob("*"):
        if p.is_file():
            n += 1
            b += p.stat().st_size
    return b, n


def jvm_loop(spark, rows: int, cpus: int) -> float:
    """Seconds for one pass of bench.py's pure-JVM calibration loop (a
    trig expression over a range, forced to a noop sink): a measure of
    the host's speed at that moment, which no code of the package runs."""
    from pyspark.sql import functions as F
    t = time.perf_counter()
    spark.range(0, rows, 1, cpus * 8).select(
        (F.cos(F.col("id") * F.lit(1e-9)) +
         F.sin(F.col("id") * F.lit(2e-9))).alias("v")) \
        .write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


class Run:
    """One benchmark run: set-up, timed ops, checks, metrics."""

    def __init__(self, args, run_dir: Path, cpus: int):
        from tracing import Tracer
        self.args = args
        self.dir = run_dir
        self.cpus = cpus
        self.tr = Tracer(bool(args.trace))
        self.plan = None
        self.n_pages = N_PAGES[args.workload]
        self.op_ms: list[float] = []      # untraced ops, net wall time
        self.op_cpu_ms: list[float] = []  # the same ops, CPU time
        self.ref_ms: list[float] = []     # reference pass before each
        self.traced_ms: list[float] = []  # traced ops of the same scope
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.layer_samples: dict[str, list[float]] = {}
        self.layer_once: dict[str, float] = {}
        # (op number, check returning None or why it failed), run after
        # the timed loop
        self.checks: list = []
        self.stored: list[float] = []
        self.excluded = 0
        # per untraced op: (net ms, wall ms, CPU ms, steal ms)
        self.op_record: list[tuple[float, float, float, float]] = []

    # -- helpers -----------------------------------------------------
    def sample(self, name: str, value: float) -> None:
        self.layer_samples.setdefault(name, []).append(float(value))

    def self_check(self, fails: list[str]) -> None:
        for why in fails:
            self.correct = False
            print(f"oracle self-check failed: {why}", file=sys.stderr)

    def fail(self, op: int, why: str) -> None:
        self.failed += 1
        self.correct = False
        print(f"op {op} failed its check: {why}", file=sys.stderr)

    def run_checks(self) -> None:
        for op, check in self.checks:
            try:
                why = check()
            except Exception:
                traceback.print_exc()
                why = "the check raised"
            if why:
                self.fail(op, why)

    def force(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def timed(self, fn):
        """fn() as a timed op, right after a reference pass of the
        pure-JVM loop: records the pass's wall milliseconds and the op's
        net milliseconds (as clock() counts them), its CPU milliseconds
        (this process and every process below it: the Spark JVM and its
        Python workers), and its wall and steal milliseconds."""
        ref = jvm_loop(self.spark, REF_ROWS, self.cpus) * 1e3
        s0 = cpu_ms()[1]
        c0 = tree_cpu_ms(os.getpid())
        w0 = time.perf_counter()
        res = fn()
        w1 = time.perf_counter()
        c1 = tree_cpu_ms(os.getpid())
        s1 = cpu_ms()[1]
        wall = (w1 - w0) * 1e3
        net = wall - STEAL_WEIGHT * (s1 - s0)
        self.op_ms.append(net)
        self.op_cpu_ms.append(c1 - c0)
        self.ref_ms.append(ref)
        self.op_record.append((net, wall, c1 - c0, s1 - s0))
        return res

    def staged(self, name: str, df) -> tuple[float, dict]:
        """Force df to a noop sink inside a span; returns (ms, the plan
        counts of the action)."""
        self.plan.mark()
        with self.tr.span(name) as c:
            t = clock()
            self.force(df)
            ms = (clock() - t) * 1e3
        c.update(self.plan.collect())
        return ms, c

    # -- set-up ------------------------------------------------------
    def setup(self) -> None:
        from s2_geometry_kotlin_spark.session import get_spark
        from s2_geometry_kotlin_spark.sources import pages as P
        with self.tr.span("session.start"):
            self.spark = get_spark("s2-joinbench", cpus=self.cpus,
                                   shuffle_partitions=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tr.enabled:
            from tracing import PlanCounts
            self.plan = PlanCounts(self.spark)
        self.pages_path = str(self.dir / "pages")
        with self.tr.span("sources.synth"):
            subprocess.run([sys.executable, str(HERE / "synth.py"),
                            str(self.dir), str(self.args.seed),
                            str(self.n_pages)], check=True)
            P.load_pages(self.spark, str(self.dir)).write.mode(
                "overwrite").parquet(self.pages_path)
        self.pages_bytes = dir_bytes(Path(self.pages_path))[0]
        getattr(self, f"setup_{self.args.workload}")()
        with self.tr.span("setup.reference_warmup"):
            jvm_loop(self.spark, REF_ROWS, self.cpus)

    def geo_df(self):
        """pages -> geoparse -> drop null coordinates -> s2_cellid."""
        from pyspark.sql import functions as F

        from s2_geometry_kotlin_spark import functions as s2f
        from s2_geometry_kotlin_spark.sources import pages as P
        pages = self.spark.read.parquet(self.pages_path)
        geo = P.geoparse(pages).where(
            F.col("lat").isNotNull() & F.col("lon").isNotNull())
        return pages, geo, geo.withColumn("cell_id",
                                          s2f.s2_cellid("lat", "lon"))

    def stage_sources(self) -> dict[str, float]:
        """Staged actions: scan, + geoparse, + cell id.  Self times."""
        pages, geo, cells = self.geo_df()
        scan = self.staged("stage.scan", pages)[0]
        parse = self.staged("stage.geoparse", geo)[0]
        cell = self.staged("stage.cellid", cells)[0]
        return {"scan": scan, "geoparse": parse - scan,
                "cellid": cell - parse, "cumulative": cell}

    def setup_enrich(self) -> None:
        from s2_geometry_kotlin_spark.sources.layers import fixture_layer
        self.layer = fixture_layer()
        if self.tr.enabled:
            from s2_geometry_kotlin_spark.operators.spatial_join import \
                build_covering_rows
            with self.tr.span("kernel.build_covering_rows") as c:
                t = clock()
                rows = build_covering_rows(self.layer)
                self.layer_once["kernel.covering_ms"] = (clock() - t) * 1e3
                c["cells"] = len(rows)
            self.layer_once["kernel.covering_cells"] = len(rows)
        with self.tr.span("setup.warmup"):
            for i in range(WARMUP_OPS["enrich"]):
                with self.tr.span("setup.warmup_op"):
                    out = self.dir / f"warm{i}"
                    self.enrich_op(out)
                    shutil.rmtree(out)

    def setup_nearby(self) -> None:
        from s2_geometry_kotlin_spark import functions as s2f
        if self.tr.enabled:
            st = self.stage_sources()
            for k in ("scan", "geoparse", "cellid"):
                self.layer_once[f"sources.{k}_ms" if k != "cellid"
                                else "functions.cellid_ms"] = st[k]
        with self.tr.span("setup.cache"):
            _, _, cells = self.geo_df()
            x, y, z = s2f.xyz_cols("lat", "lon")
            self.xyz = cells.select("url", "cell_id", x.alias("x"),
                                    y.alias("y"), z.alias("z")).cache()
            self.n_geo = self.xyz.count()
        self.layer_once["sources.geo_rows"] = self.n_geo
        self.cached_bytes = self.cache_bytes()
        self.qs = self.queries()
        with self.tr.span("setup.warmup"):
            for _ in range(WARMUP_OPS["nearby"]):
                with self.tr.span("setup.warmup_op"):
                    self.nearby_op(self.qs, {})

    # -- ops ---------------------------------------------------------
    def enrich_op(self, out_dir: Path) -> dict:
        from s2_geometry_kotlin_spark.operators.spatial_join import \
            spatial_join
        from s2_geometry_kotlin_spark.plans.lineage import run_resumable
        _, _, cells = self.geo_df()
        joined = spatial_join(cells, self.spark, self.layer)
        return run_resumable(self.spark, joined, "layer", str(out_dir),
                             job_id="enrich")

    def queries(self) -> list[tuple[int, float, float]]:
        """The run's query batch, asked again by every op, so that every
        seed gives an op the same work: points near the hot cities, one
        city after another; uniform mid-latitude points at least
        CITY_GAP_DEG from every hot city, so that no seed's batch picks
        up a city's pages by chance; and points near the poles.  Pages reach latitude +-80, so no page
        lies within 8.5 degrees of a polar point, while knn_points
        starts from a radius of about 7.9 degrees over this table: every
        op takes two rounds."""
        import numpy as np

        from oracles import xyz
        from s2_geometry_kotlin_spark.sources.pages import CITIES
        rng = np.random.default_rng(self.args.seed + 7919)
        city = np.array(CITIES, dtype=np.float64) / 1e6
        city_xyz = xyz(city[:, 0], city[:, 1])
        qs = []
        for i in range(N_HOT):
            lat, lon = city[i % len(city)]
            qs.append((lat + rng.uniform(-0.02, 0.02),
                       lon + rng.uniform(-0.02, 0.02)))
        min_cos = np.cos(np.radians(CITY_GAP_DEG))
        while len(qs) < N_HOT + N_UNIFORM:
            lat, lon = rng.uniform(-60, 60), rng.uniform(-180, 180)
            if (city_xyz @ xyz([lat], [lon])[0]).max() <= min_cos:
                qs.append((lat, lon))
        for _ in range(N_POLAR):
            qs.append((rng.choice([-1.0, 1.0]) *
                       rng.uniform(POLAR_MIN_LAT, 90),
                       rng.uniform(-180, 180)))
        return [(i, float(a), float(b)) for i, (a, b) in enumerate(qs)]

    def nearby_op(self, qs, stats: dict):
        from s2_geometry_kotlin_spark.operators.knn import knn_points
        return knn_points(self.xyz, self.spark, qs, K,
                          n_pages_hint=self.n_geo, stats=stats).collect()

    # -- checks ------------------------------------------------------
    def enrich_oracle(self) -> None:
        """Expected (page, polygon) pairs for the fixture layer."""
        import numpy as np
        import pandas as pd

        from oracles import PolygonOracle, pip_self_check
        urls, pts = stored_pages(self.pages_path)
        self.url_index = pd.Index(urls)
        self.layer_of = {pid: name for name, pid, _ in self.layer}
        expected, undecided = [], []
        hand = {}
        fixture_names = ["arctic_80", "antimeridian_diamond", "candy_cane"]
        for name, pid, poly in self.layer:
            orc = PolygonOracle([lp.vertices for lp in poly.loops],
                                getattr(poly, "inverted", False))
            if name == "fixture":
                hand[fixture_names.pop(0)] = orc
            elif name == "city_donut":
                hand["paris_donut"] = orc
            inside, decided = orc.contains(pts)
            expected.append(np.flatnonzero(inside & decided) * 64 + pid)
            undecided.append(np.flatnonzero(~decided) * 64 + pid)
        self.self_check(pip_self_check(hand))
        self.expected = np.sort(np.concatenate(expected))
        self.undecided = np.concatenate(undecided)
        self.excluded = len(self.undecided)

    def check_enrich(self, out_dir: Path, res: dict) -> str | None:
        import numpy as np
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        if not hasattr(self, "expected"):
            self.enrich_oracle()
        t = ds.dataset(str(out_dir / "data"), format="parquet",
                       partitioning="hive").to_table(
            columns=["url", "polygon_id", "layer"])
        rows = res.get("rows", 0)
        if t.num_rows != rows:
            return f"read back {t.num_rows} rows, the job reported {rows}"
        lineage = pq.read_table(str(out_dir / "_lineage"))
        if sum(lineage["n_rows"].to_pylist()) != rows:
            return "lineage n_rows do not sum to the written rows"
        parts = {p.name for p in (out_dir / "data").iterdir()
                 if p.is_dir() and p.name.startswith("layer=")}
        if lineage.num_rows != len(parts) or \
                lineage.num_rows != res.get("written_partitions"):
            return (f"{lineage.num_rows} lineage rows for {len(parts)} "
                    f"written partitions")
        pid = t["polygon_id"].to_numpy()
        layer = np.asarray(t["layer"].to_pylist(), dtype=object)
        want_layer = np.array([self.layer_of.get(int(p)) for p in pid],
                              dtype=object)
        if (layer != want_layer).any():
            return "a row carries another polygon's layer"
        idx = self.url_index.get_indexer(
            t["url"].to_numpy(zero_copy_only=False))
        if (idx < 0).any():
            return "a row names a page without coordinates"
        got = np.sort(idx.astype(np.int64) * 64 + pid)
        if len(np.unique(got)) != len(got):
            return "duplicate (page, polygon) rows"
        got = got[~np.isin(got, self.undecided)]
        if not np.array_equal(got, self.expected):
            extra = len(np.setdiff1d(got, self.expected))
            missing = len(np.setdiff1d(self.expected, got))
            return f"{extra} rows not in the oracle, {missing} missing"
        return None

    def knn_mismatch(self, qs, rows) -> str | None:
        import numpy as np
        import pandas as pd

        from oracles import check_knn, knn_self_check, xyz
        if not hasattr(self, "pts"):
            urls, self.pts = stored_pages(self.pages_path)
            self.url_index = pd.Index(urls)
            self.self_check(knn_self_check())
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(r)
        for qid, lat, lon in qs:
            got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
            if [r["rank"] for r in got] != list(range(1, len(got) + 1)):
                return f"query {qid}: ranks are not 1..n"
            idx = self.url_index.get_indexer([r["url"] for r in got])
            if (idx < 0).any():
                return f"query {qid}: a result is not a page with coordinates"
            why = check_knn(self.pts, xyz([lat], [lon])[0], K, idx,
                            np.array([r["dist_m"] for r in got]))
            if why:
                return f"query {qid}: {why}"
        return None

    # -- timed loop --------------------------------------------------
    def timed_loop(self) -> None:
        """Whole rounds of ops until --seconds have passed.  A traced
        round is one untraced op and one traced op of the same scope, in
        alternating order, for the tracing overhead; on enrich it ends
        with a staged op that splits the work into layers.  The driver's
        peak RSS is read when the loop ends, before any check runs."""
        wl = self.args.workload
        plain = getattr(self, f"{wl}_plain")
        pair = [plain]
        extra = []
        if self.tr.enabled:
            pair.append(getattr(self, f"{wl}_traced"))
            if wl == "enrich":
                extra.append(self.enrich_staged)
        # ops still speeding up should not bias the overhead: the order
        # within a round alternates, and the first round's order with the
        # seed, since a traced enrich run holds a single round
        if self.args.seed % 2:
            pair.reverse()
        start = time.perf_counter()
        while self.attempted == 0 or \
                time.perf_counter() - start < self.args.seconds:
            if self.attempted:
                pair.reverse()
            for op in pair + extra:
                self.attempted += 1
                self.tr.op = self.attempted
                try:
                    op()
                except Exception:
                    self.failed += 1
                    traceback.print_exc()
        self.tr.op = None
        self.peak_rss_mb = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024

    def out_dir(self) -> Path:
        """A fresh output directory for this op, kept until its check."""
        return self.dir / f"out{self.attempted}"

    def check_later(self, check) -> None:
        self.checks.append((self.attempted, check))

    def enrich_plain(self) -> None:
        out = self.out_dir()
        res = self.timed(lambda: self.enrich_op(out))
        self.check_later(lambda: self.finish_enrich(out, res))

    def finish_enrich(self, out: Path, res: dict) -> str | None:
        why = self.check_enrich(out, res)
        b, n = dir_bytes(out)
        self.stored.append(b / self.pages_bytes)
        self.sample("lineage.bytes_written", b)
        self.sample("lineage.files_written", n)
        shutil.rmtree(out)
        return why

    def enrich_traced(self) -> None:
        """enrich_op with a span around each public call and the plan
        counts of its actions, timed as a whole, status-store reads
        included."""
        from s2_geometry_kotlin_spark.operators.spatial_join import \
            spatial_join
        from s2_geometry_kotlin_spark.plans.lineage import run_resumable
        out = self.out_dir()
        t = clock()
        self.plan.mark()
        with self.tr.span("op.enrich"):
            with self.tr.span("sources.geoparse+functions.s2_cellid"):
                _, _, cells = self.geo_df()
            with self.tr.span("operators.spatial_join"):
                joined = spatial_join(cells, self.spark, self.layer)
            with self.tr.span("plans.lineage.run_resumable") as w:
                res = run_resumable(self.spark, joined, "layer", str(out),
                                    job_id="enrich")
                w.update(self.plan.collect())
        self.traced_ms.append((clock() - t) * 1e3)
        self.sample("lineage.input_scans", w["scans"])
        for k in ("scan_bytes", "shuffle_bytes", "python_udf_rows",
                  "python_udf_ms"):
            self.sample(f"spark.{k}", w[k])
        self.check_later(lambda: self.finish_enrich(out, res))

    def enrich_staged(self) -> None:
        """Staged actions, each forced to a noop sink: scan, + geoparse,
        + cell id, + candidate join, + verify (the full join); then
        run_resumable on the same DataFrame."""
        from s2_geometry_kotlin_spark.operators.spatial_join import (
            build_covering_rows, spatial_join)
        from s2_geometry_kotlin_spark.plans.lineage import run_resumable
        out = self.out_dir()
        with self.tr.span("op.enrich_staged"):
            st = self.stage_sources()
            self.sample("sources.scan_ms", st["scan"])
            self.sample("sources.geoparse_ms", st["geoparse"])
            self.sample("functions.cellid_ms", st["cellid"])
            _, geo, cells = self.geo_df()
            if "sources.geo_rows" not in self.layer_once:
                self.layer_once["sources.geo_rows"] = geo.count()
            with self.tr.span("kernel.build_covering_rows"):
                build_covering_rows(self.layer)
            cand = spatial_join(cells, self.spark, self.layer,
                                verify="none")
            cand_ms, c = self.staged("stage.candidates", cand)
            joined = spatial_join(cells, self.spark, self.layer)
            full_ms = self.staged("stage.join", joined)[0]
            self.plan.mark()
            with self.tr.span("stage.run_resumable") as w:
                t = clock()
                res = run_resumable(self.spark, joined, "layer", str(out),
                                    job_id="enrich")
                write_ms = (clock() - t) * 1e3
            w.update(self.plan.collect())
        self.sample("spatial_join.candidate_ms",
                    cand_ms - st["cumulative"])
        self.sample("spatial_join.verify_ms", full_ms - cand_ms)
        self.sample("lineage.write_ms", write_ms - full_ms)
        cand_rows = c["join_rows"]
        self.sample("spatial_join.candidate_rows", cand_rows)
        self.sample("spatial_join.result_rows", res.get("rows", 0))
        self.sample("spatial_join.accept_ratio",
                    res.get("rows", 0) / max(1.0, cand_rows))
        self.sample("spatial_join.candidates_per_page",
                    cand_rows / max(1, self.layer_once["sources.geo_rows"]))
        self.check_later(lambda: self.finish_enrich(out, res))

    def nearby_plain(self) -> None:
        qs = self.qs
        rows = self.timed(lambda: self.nearby_op(qs, {}))
        self.check_later(lambda: self.knn_mismatch(qs, rows))

    def nearby_traced(self) -> None:
        """nearby_op in a span, with the plan counts and the job count
        of its actions, timed as a whole, status-store reads included."""
        qs = self.qs
        stats: dict = {}
        sc = self.spark.sparkContext
        group = f"op{self.attempted}"
        t = clock()
        self.plan.mark()
        sc.setJobGroup(group, "nearby op")
        with self.tr.span("op.nearby") as c:
            with self.tr.span("operators.knn.knn_points"):
                rows = self.nearby_op(qs, stats)
            c.update(self.plan.collect())
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.traced_ms.append((clock() - t) * 1e3)
        self.sample("knn.rounds", stats.get("rounds", 0))
        self.sample("knn.candidate_rows", c["join_rows"])
        self.sample("knn.jobs_per_op", len(jobs))
        for k in ("scan_bytes", "shuffle_bytes", "python_udf_rows",
                  "python_udf_ms"):
            self.sample(f"spark.{k}", c[k])
        self.check_later(lambda: self.knn_mismatch(qs, rows))

    # -- results -----------------------------------------------------
    def end_to_end(self) -> dict:
        if self.args.workload == "enrich":
            stored = statistics.median(self.stored)
        else:
            stored = self.cached_bytes / self.pages_bytes
        return {"setup_s": (self.setup_s, "s"),
                "op_cpu_ratio": (statistics.median(self.op_cpu_ms) /
                                 statistics.median(self.ref_ms), "ratio"),
                "stored_bytes_per_input_byte": (stored, "ratio"),
                "driver_peak_rss_mb": (self.peak_rss_mb, "MB")}

    def cache_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def per_layer(self) -> dict:
        med = {k: statistics.median(v) for k, v in self.layer_samples.items()}
        med.update(self.layer_once)
        self_ms = self.tr.self_times_ms()
        med["session.start_ms"] = self_ms.get("session.start", 0.0)
        med["sources.synth_ms"] = self_ms.get("sources.synth", 0.0)
        if self.traced_ms and self.op_ms:
            med["trace.overhead_ms"] = (statistics.median(self.traced_ms) -
                                        statistics.median(self.op_ms))
        out = {}
        for name, unit in PER_LAYER:
            out[name] = (float(med.get(name, 0.0)), unit)
        return out


PER_LAYER = [
    ("session.start_ms", "ms"),
    ("sources.synth_ms", "ms"),
    ("sources.scan_ms", "ms"),
    ("sources.geoparse_ms", "ms"),
    ("sources.geo_rows", "count"),
    ("functions.cellid_ms", "ms"),
    ("kernel.covering_ms", "ms"),
    ("kernel.covering_cells", "count"),
    ("spatial_join.candidate_ms", "ms"),
    ("spatial_join.verify_ms", "ms"),
    ("spatial_join.candidate_rows", "count"),
    ("spatial_join.result_rows", "count"),
    ("spatial_join.accept_ratio", "ratio"),
    ("spatial_join.candidates_per_page", "ratio"),
    ("knn.rounds", "count"),
    ("knn.candidate_rows", "count"),
    ("knn.jobs_per_op", "count"),
    ("lineage.write_ms", "ms"),
    ("lineage.input_scans", "count"),
    ("lineage.bytes_written", "bytes"),
    ("lineage.files_written", "count"),
    ("spark.scan_bytes", "bytes"),
    ("spark.shuffle_bytes", "bytes"),
    ("spark.python_udf_rows", "count"),
    ("spark.python_udf_ms", "ms"),
    ("trace.overhead_ms", "ms"),
]


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE} not found next to {HERE.name}/: run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    cpus = SPARK_CORES
    run_dir = HERE / "_runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, cpus)
    run = Run(args, run_dir, cpus)
    stopped = False
    try:
        run.setup()
        run.setup_s = clock() - T0
        run.timed_loop()
        loop_end = clock()
        run.run_checks()
        checks_s = clock() - loop_end
        metrics = run.per_layer() if args.trace else run.end_to_end()
        ref = {"workload": args.workload, "seed": args.seed,
               "nproc": os.cpu_count(), "cpus_used": cpus,
               "master": run.spark.sparkContext.master,
               "pages": run.n_pages, "attempted": run.attempted,
               "failed": run.failed, "oracle_excluded": run.excluded,
               "op_p50_ms": round(statistics.median(run.op_ms)),
               "ref_ms": [round(v) for v in run.ref_ms],
               "traced_ms": [round(v) for v in run.traced_ms],
               "untraced_ops": [[round(v) for v in r]
                                for r in run.op_record],
               "ref_p50_ms": round(statistics.median(run.ref_ms)),
               "checks_s": round(checks_s, 1)}
        if args.trace:
            (HERE / "_traces").mkdir(exist_ok=True)
            run.tr.dump(str(HERE / "_traces" /
                            f"{args.workload}-s{args.seed}.json"),
                        {"reference": ref,
                         "per_layer": {k: v for k, (v, _) in metrics.items()}})
        t = clock()
        stop_spark(run.spark)
        stopped = True
        ref["stop_s"] = round(clock() - t, 1)
        ref["run_s"] = round(clock() - T0, 1)
    finally:
        try:
            if not stopped and hasattr(run, "spark"):
                stop_spark(run.spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print("reference " + json.dumps(ref))
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
