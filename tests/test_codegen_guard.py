"""Whole-stage codegen guard: with codegen fallback off, a stage whose
generated code fails to compile raises instead of silently running
unfused.  The geocode path and the registry's spatial join must
compile.  A `lat IS NOT NULL` filter over the synthesized pages used to
be pushed through the synthesizer's projections with `text`
substituted, and the inlined tree outgrew the 64 KB method limit."""

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_kotlin_spark.session import get_spark
    s = get_spark("codegen-guard-tests", cpus=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.codegen.fallback", "false")
    yield s
    s.conf.unset("spark.sql.codegen.fallback")
    s.stop()


def test_geocode_compiles(spark):
    from s2_geometry_kotlin_spark.sources import pages as P
    geo = P.geocode(P.load_pages(spark, SF))
    assert len(geo.collect()) == 442


def test_geocode_encodes_once(spark):
    """The encode runs once per page: the plan holds one ArrowEvalPython,
    whose output column the `cell_id IS NOT NULL` filter reads."""
    from s2_geometry_kotlin_spark.sources import pages as P
    geo = P.geocode(P.load_pages(spark, SF))
    plan = geo._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert len(geo.collect()) == 442


def test_registry_spatial_join_compiles(spark):
    import __spark_entry__ as e
    assert e.queries()["spatial_join"](spark, SF).collect()
