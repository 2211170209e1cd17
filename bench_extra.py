"""Noop-sink isolation bench (guide §1.4) — r8 optimization evidence.

NOT the driver's bench (bench.py is frozen): this file exists so each
operator/stage can be timed in isolation, best-of-N, with the same
window calibration as bench.py, and its numbers cited in
OPTIMIZATION_r08.md.

Usage: python bench_extra.py [query ...]   (default: all)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, S2_BENCH_PAGES (a pages
parquet created by bench.py's synthesize step; re-created if missing),
S2_EXTRA_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("S2_EXTRA_REPS", "3"))
    only = set(sys.argv[1:])

    from s2_geometry_kotlin_spark import functions as s2f
    from s2_geometry_kotlin_spark.operators.components import (
        connected_components, q_dedup_components)
    from s2_geometry_kotlin_spark.operators.dedup import q_minhash_lsh_pairs
    from s2_geometry_kotlin_spark.operators.knn import knn_points
    from s2_geometry_kotlin_spark.operators.routes import (fixture_routes,
                                                           pages_near_route)
    from s2_geometry_kotlin_spark.operators.spatial_join import spatial_join
    from s2_geometry_kotlin_spark.session import get_spark
    from s2_geometry_kotlin_spark.sources import pages as P
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    from s2_geometry_kotlin_spark.sources.pages import CITIES

    spark = get_spark("s2-bench-extra", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    pages_path = os.environ.get("S2_BENCH_PAGES", "/tmp/s2_pages_bench_q")
    if not os.path.exists(pages_path):
        (P.load_pages(spark, sf_dir, replicate=400)
         .repartition(256).write.mode("overwrite").parquet(pages_path))
    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()

    geo = P.geocode(pages).select("url", "lat", "lon", "cell_id").cache()
    geo.count()
    layer = fixture_layer()
    qs = [(i, la / 1e6, lo / 1e6) for i, (la, lo) in enumerate(CITIES)]
    x, y, z = s2f.xyz_cols("lat", "lon")
    pages_xyz = geo.select("url", "cell_id", x.alias("x"), y.alias("y"),
                           z.alias("z"))

    queries = {
        "spatial_join": lambda: force(
            spatial_join(geo, spark, layer, strategy="broadcast")),
        "spatial_join_range": lambda: force(
            spatial_join(geo, spark, layer, strategy="range")),
        "spatial_join_salted": lambda: force(
            spatial_join(geo, spark, layer, strategy="salted")),
        "spatial_join_salted_stage_cand": lambda: force(
            spatial_join(geo, spark, layer, strategy="salted",
                         verify="none")),
        "knn_pages_cities": lambda: force(
            knn_points(pages_xyz, spark, qs, 8, n_pages_hint=n_pages)),
        "pages_near_route": lambda: force(
            pages_near_route(geo, spark, fixture_routes(),
                             150000.0 / 6371010.0)),
        "minhash_lsh_pairs": lambda: force(
            q_minhash_lsh_pairs(spark, sf_dir)),
        "dedup_components": lambda: force(
            q_dedup_components(spark, sf_dir)),
        "geocode": lambda: force(
            P.geocode(pages).select("url", "lat", "lon", "cell_id")),
        "tile_index": lambda: force(
            geo.select("url", s2f.tile_index(
                F.col("lat"), F.col("lon")).alias("tile"))),
        "cell_rollup": lambda: force(
            geo.groupBy(s2f.cell_parent(F.col("cell_id"), 8)
                        .alias("cell_l8"))
            .agg(F.count("*").alias("n"))),
    }

    def dedup_stage_propagation():
        pairs = (q_minhash_lsh_pairs(spark, sf_dir)
                 .select("doc_a", "doc_b").cache())
        pairs.count()
        t0 = time.time()
        force(connected_components(pairs))
        dt = time.time() - t0
        pairs.unpersist()
        return dt

    out = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        best = 1e18
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)
    if not only or "dedup_stage_propagation" in only:
        best = 1e18
        for _ in range(reps):
            best = min(best, dedup_stage_propagation())
        out["dedup_stage_propagation"] = round(best, 3)

    # window calibration identical to bench.py's
    def calib_run(salt: int):
        df = spark.range(0, 800_000_000, 1, cpus * 8).select(
            (F.cos(F.col("id") * F.lit(1e-9 + salt * 1e-12)) +
             F.sin(F.col("id") * F.lit(2e-9))).alias("v"))
        force(df)

    calib_run(0)
    best = 1e18
    for k in range(2):
        t0 = time.time()
        calib_run(k + 1)
        best = min(best, time.time() - t0)
    out["_calib_sec"] = round(best, 3)
    out["_window_factor"] = round(best / 1.32, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
