"""sf1 salted-join verify-stage attribution (VERDICT r6 item 2).

The r6 sf1 leg measured spatial_join_salted at 24.1 s vs the 6.43 s r4
anchor at identical 20M pages, while the candidate-only stage moved
only 1.5x — the excess is all in the verify stage (salted verify delta
18.5 s vs broadcast verify delta 0.8 s).  This script isolates the
stage at 20M pages with targeted variants:

  A broadcast  verify=kernel   (the production path)
  B broadcast  verify=none     (candidate stage)
  C salted     verify=kernel   (the anomalous row)
  D salted     verify=none     (its candidate stage)
  F salted     verify=kernel, AQE coalescing disabled (runtime conf)
  G salted     verify=kernel, shuffle.partitions=cpus*8 (if the excess
                                is reduce-stage task count / skew
                                concentration, more reduce tasks fix it)
  H salted     verify=kernel over a pre-materialized candidate table
                                (verify cost with full scan parallelism)

Best-of-N each, one JSON line out.  Run in a quiet window (check
scripts/calib_gate.py first); pair with BENCH/BENCH_SF1_r07.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

REPLICATE = int(os.environ.get("S2_BENCH_REPLICATE", "4000"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("S2_SCALE_REPS", "2"))
PAGES_PATH = os.environ.get("S2_BENCH_PAGES", "/tmp/s2_pages_attrib")


def main() -> None:
    from pyspark.sql import functions as F

    from s2_geometry_kotlin_spark import functions as s2f
    from s2_geometry_kotlin_spark.operators.spatial_join import (
        make_pip_udf, spatial_join)
    from s2_geometry_kotlin_spark.session import get_spark
    from s2_geometry_kotlin_spark.sources import pages as P
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    from scripts.scaling import _calibration

    spark = get_spark("salted-attrib", cpus=CPUS,
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(PAGES_PATH + "/_SUCCESS"):
        (P.load_pages(spark, SF_DIR, replicate=REPLICATE)
         .repartition(256).write.mode("overwrite").parquet(PAGES_PATH))
    pages = spark.read.parquet(PAGES_PATH)
    geo = P.geocode(pages).select("url", "lat", "lon", "cell_id").cache()
    n = geo.count()
    layer = fixture_layer()

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(fn, reps=REPS):
        best = 1e18
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return round(best, 2)

    out = {"pages": n, "cpus": CPUS, "variants": {}}
    v = out["variants"]

    # warm-up both plan families
    force(spatial_join(geo, spark, layer, strategy="broadcast"))
    force(spatial_join(geo, spark, layer, strategy="salted"))

    v["A_broadcast_kernel"] = timed(lambda: force(
        spatial_join(geo, spark, layer, strategy="broadcast")))
    v["B_broadcast_cand"] = timed(lambda: force(
        spatial_join(geo, spark, layer, strategy="broadcast",
                     verify="none")))
    v["C_salted_kernel"] = timed(lambda: force(
        spatial_join(geo, spark, layer, strategy="salted")))
    v["D_salted_cand"] = timed(lambda: force(
        spatial_join(geo, spark, layer, strategy="salted",
                     verify="none")))

    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    v["F_salted_kernel_nocoalesce"] = timed(lambda: force(
        spatial_join(geo, spark, layer, strategy="salted")))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "true")

    spark.conf.set("spark.sql.shuffle.partitions", str(CPUS * 8))
    v["G_salted_kernel_8xpartitions"] = timed(lambda: force(
        spatial_join(geo, spark, layer, strategy="salted")))
    spark.conf.set("spark.sql.shuffle.partitions", str(CPUS))

    # H: verify stage alone at scan parallelism — materialize the
    # salted candidates, then run the same Arrow UDF filter over them
    cand_path = "/tmp/s2_salted_cand"
    # the verify needs lat/lon + is_interior, which the stage-split
    # candidate query prunes — rebuild the salted candidate plan with
    # those columns kept and materialize it
    from s2_geometry_kotlin_spark.operators import spatial_join as SJ
    rows = SJ.build_covering_rows(layer)
    cov = spark.createDataFrame(rows, SJ._COV_SCHEMA)
    probe = geo.withColumn(
        "probe_cell",
        F.explode(s2f.ancestors_at({r[3] for r in rows}, "cell_id")))
    salted_cov = (cov.withColumnRenamed("cell_id", "probe_cell")
                  .join(spark.range(8).select(
                      F.col("id").cast("int").alias("salt"))))
    probe = probe.withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(8)).cast("int"))
    joined = probe.join(salted_cov.hint("shuffle_hash"),
                        ["probe_cell", "salt"], "inner")
    (joined.select("url", "lat", "lon", "layer", "polygon_id",
                   "is_interior")
     .write.mode("overwrite").parquet(cand_path))
    cand_df = spark.read.parquet(cand_path)
    n_cand = cand_df.count()
    out["n_candidates"] = n_cand
    keep = make_pip_udf(layer)(F.col("polygon_id"), F.col("lat"),
                               F.col("lon"), F.col("is_interior"))
    v["H_verify_only_scan_parallel"] = timed(lambda: force(
        cand_df.where(keep).select("url", "layer", "polygon_id")))

    out["calib"] = round(_calibration(spark, CPUS, REPS), 2)
    spark.stop()
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
