"""Physical-plan shape assertions for the scale-critical operators:
the properties that make the 100-TB story true are pinned here so a
refactor that silently degrades the plan (broadcast -> sort-merge,
equi-join -> all-pairs, scan without pruning) fails loudly."""

import pytest


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_kotlin_spark.session import get_spark
    s = get_spark("plan-tests", cpus=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _geo(spark):
    import __spark_entry__ as e
    return e._geo_pages(spark, SF)


def test_broadcast_join_never_shuffles_pages(spark):
    """The broadcast strategy's only exchange may be the broadcast of
    the covering side — the pages side must not shuffle and must not
    fall back to sort-merge."""
    from s2_geometry_kotlin_spark.operators.spatial_join import \
        spatial_join
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    plan = _plan(spatial_join(_geo(spark), spark, fixture_layer(),
                              strategy="broadcast"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # no shuffle exchange anywhere on the probe path (broadcast
    # exchanges are BroadcastExchange, not ShuffleExchange)
    assert "ShuffleExchange" not in plan.replace(
        "BroadcastExchange", "")


def test_salted_join_uses_shuffled_hash_not_sort_merge(spark):
    from s2_geometry_kotlin_spark.operators.spatial_join import \
        spatial_join
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    plan = _plan(spatial_join(_geo(spark), spark, fixture_layer(),
                              strategy="salted"))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_documents_scan_prunes_columns(spark):
    """Column pruning reaches the parquet scan: token counting reads
    only the columns it projects, not the whole documents schema."""
    from s2_geometry_kotlin_spark.operators.textstats import q_token_stats
    plan = _plan(q_token_stats(spark, SF))
    import re
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    read = m.group(1)
    # the documents table carries more columns (title, ts, meta, ...)
    # than the query needs; a full-schema read is a pruning regression
    assert "title" not in read and "embedding" not in read, read


def test_minhash_candidate_join_is_equi_join(spark):
    """The LSH near-dup path must generate candidates with an equi-join
    on bands — a cartesian/broadcast-nested-loop join here is the
    all-pairs anti-pattern."""
    from s2_geometry_kotlin_spark.operators.dedup import \
        q_minhash_lsh_pairs
    plan = _plan(q_minhash_lsh_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    # candidate generation is an equi-join keyed on (band, minhash);
    # the physical strategy (broadcast vs sort-merge) follows the
    # representative-table stats, either is fine — the anti-pattern
    # this test guards against is a non-equi all-pairs join
    import re
    assert re.search(
        r"(BroadcastHash|SortMerge|ShuffledHash)Join "
        r"\[band#\d+, minhash#\d+\]", plan), plan
    # (BroadcastNestedLoopJoins exist only against broadcast one-row
    # constant tables — the permutation seeds — which is fine; the
    # doc-pair volume never flows through them)
