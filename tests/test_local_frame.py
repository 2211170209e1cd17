"""session.local_frame: driver-side rows become a LocalRelation with the
same rows and schema that spark.createDataFrame gives the same list,
whatever spark.sql.execution.arrow.pyspark.enabled says."""

import pytest
from pyspark.sql.types import (ArrayType, BooleanType, LongType,
                               StringType, StructField, StructType)

from s2_geometry_kotlin_spark.session import local_frame

I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1

CASES = {
    "empty": ([], "a long, b string"),
    "nulls": ([(1, None, 2.5), (None, "x", None)],
              "a long, b string, c double"),
    "booleans": ([(True, 1), (False, None), (None, 3)],
                 "flag boolean, n int"),
    "array_of_struct": ([([(1, 2, 0.5), (3, 4, None)],), ([],)],
                        "edges array<struct<ccid: long, pid: long, "
                        "d: double>>"),
    "signed_cell_ids": ([(I64_MIN, [I64_MIN, I64_MAX]), (I64_MAX, None),
                         (-5764607523034234880, [0])],
                        "cell_id long, ids array<long>"),
    "struct_type": ([(7, "u1", True, [1, 2]), (8, None, None, None)],
                    StructType([
                        StructField("id", LongType()),
                        StructField("url", StringType()),
                        StructField("ok", BooleanType()),
                        StructField("xs", ArrayType(LongType()))])),
}


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_kotlin_spark.session import get_spark
    s = get_spark("local-frame-tests", cpus=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_is_local_relation_with_create_dataframe_rows(
        spark, case, arrow):
    rows, schema = CASES[case]
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        plan = got._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    finally:
        spark.conf.set(key, old)
