"""spark-submit entry point for the flagship pipeline.

Deployment contract (BASELINE.md metric row): the engine ships as a
--py-files archive and runs under spark-submit on a multi-executor
cluster:

    spark-submit --master <...> --py-files s2pkg.zip \
        scripts/submit_job.py <sf_dir> <out_dir>

The job geocodes the pages table (`sources.pages.geocode`: geoparse,
then the leaf cell id), runs the broadcast covering spatial join
against the fixture layer, and writes per-polygon page counts to
parquet.  `tests/test_submit_job.py` builds
the zip and runs this under spark-submit from a neutral cwd, proving
the package imports from the archive alone.
"""

import sys


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.appName("s2-submit-job").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    # imports resolve from the --py-files archive
    from s2_geometry_kotlin_spark.operators.spatial_join import \
        spatial_join
    from s2_geometry_kotlin_spark.sources import pages as P
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer

    geo = P.geocode(P.load_pages(spark, sf_dir))
    counts = (spatial_join(geo, spark, fixture_layer(),
                           strategy="broadcast")
              .groupBy("layer", "polygon_id")
              .agg(F.count("*").alias("n_pages")))
    counts.write.mode("overwrite").parquet(out_dir)
    n = spark.read.parquet(out_dir).count()
    print(f"SUBMIT_JOB_ROWS {n}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
