"""Dump .explain('formatted') for every bench query to plans/r08/.

Usage: python scripts/plan_dump.py <suffix>   (suffix = before | after)

Builds the same DataFrames bench.py times (same sf0.1 inputs, same cached
`geo`) and writes each query's formatted physical plan to
plans/r08/<query>_<suffix>.txt so plan-shape claims in
OPTIMIZATION_r08.md are checkable without running Spark.

kNN has no entry: knn_points runs its escalation rounds when called and
returns a LocalRelation of the collected rows, so its returned plan shows
nothing of the join.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", "r08")
    os.makedirs(out_dir, exist_ok=True)

    from s2_geometry_kotlin_spark import functions as s2f
    from s2_geometry_kotlin_spark.operators.components import \
        connected_components
    from s2_geometry_kotlin_spark.operators.dedup import q_minhash_lsh_pairs
    from s2_geometry_kotlin_spark.operators.routes import (fixture_routes,
                                                           pages_near_route)
    from s2_geometry_kotlin_spark.operators.spatial_join import spatial_join
    from s2_geometry_kotlin_spark.session import get_spark
    from s2_geometry_kotlin_spark.sources import pages as P
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer

    spark = get_spark("s2-plan-dump", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # its own default table: bench_extra.py reuses whatever table sits
    # at its default path, so a 4x-replicated table written there would
    # shrink the next bench_extra run from the bench's 2M pages
    pages_path = os.environ.get("S2_BENCH_PAGES", "/tmp/s2_pages_plan_dump")
    if not os.path.exists(pages_path):
        (P.load_pages(spark, sf_dir, replicate=4)
         .repartition(16).write.mode("overwrite").parquet(pages_path))
    pages = spark.read.parquet(pages_path)

    geo = P.geocode(pages).select("url", "lat", "lon", "cell_id").cache()
    geo.count()
    layer = fixture_layer()

    plans = {
        "geocode": P.geocode(pages).select("url", "lat", "lon", "cell_id"),
        "cell_rollup": (geo.groupBy(
            s2f.cell_parent(F.col("cell_id"), 8).alias("cell_l8"))
            .agg(F.count("*").alias("n"))),
        "spatial_join": spatial_join(geo, spark, layer,
                                     strategy="broadcast"),
        "spatial_join_range": spatial_join(geo, spark, layer,
                                           strategy="range"),
        "spatial_join_salted": spatial_join(geo, spark, layer,
                                            strategy="salted"),
        "tile_index": geo.select(
            "url", s2f.tile_index(F.col("lat"), F.col("lon")).alias("tile")),
        "pages_near_route": pages_near_route(
            geo, spark, fixture_routes(), 150000.0 / 6371010.0),
        "minhash_lsh_pairs": q_minhash_lsh_pairs(spark, sf_dir),
    }
    # one propagation round of connected components over a tiny pair set
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long")
    plans["dedup_components_round"] = connected_components(pairs)

    for name, df in plans.items():
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
