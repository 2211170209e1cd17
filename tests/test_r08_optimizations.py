"""r8 optimization-round regression tests: every optimization that
changed an operator's internals is pinned against its pre-r8 semantics.

- make_pip_udf(with_interior=True) must equal `is_interior | pip(...)`
- make_pip_sql_predicate's single-evaluation crossing form must equal
  the Arrow-kernel verdicts (join-level equality)
- connected_components(assume_distinct=True) must equal the default on
  already-distinct pairs (and tolerate duplicate-edge inputs when the
  flag is off)
- the driver-side covering memos must return the same rows as a fresh
  computation
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s2_geometry_kotlin_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("S2_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    sp = get_spark("test-r08", cpus=4, shuffle_partitions=4)
    sp.sparkContext.setLogLevel("ERROR")
    yield sp


@pytest.fixture(scope="module")
def geo(spark):
    from s2_geometry_kotlin_spark import functions as s2f
    from s2_geometry_kotlin_spark.sources import pages as P
    df = (P.geoparse(P.load_pages(spark, SF_DIR))
          .where(F.col("lat").isNotNull())
          .select("url", "lat", "lon")
          .withColumn("cell_id", s2f.s2_cellid("lat", "lon"))).cache()
    df.count()
    return df


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pip_udf_interior_equivalence(spark, geo):
    """with_interior=True (kernel skipped on fast-accept rows) must
    produce exactly the rows of `is_interior OR pip(...)`."""
    from s2_geometry_kotlin_spark.functions import ancestors_at
    from s2_geometry_kotlin_spark.operators import spatial_join as SJ
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    layer = fixture_layer()
    rows = SJ.build_covering_rows(layer)
    cov = spark.createDataFrame(rows, SJ._COV_SCHEMA)
    parents = ancestors_at({r[3] for r in rows}, "cell_id")
    joined = (geo.withColumn("probe_cell", F.explode(parents))
              .join(F.broadcast(cov.withColumnRenamed("cell_id",
                                                      "probe_cell")),
                    "probe_cell", "inner"))
    plain = SJ.make_pip_udf(layer)
    fused = SJ.make_pip_udf(layer, with_interior=True)
    old = joined.where(
        F.col("is_interior") | plain(F.col("polygon_id"), F.col("lat"),
                                     F.col("lon"))
    ).select("url", "layer", "polygon_id")
    new = joined.where(
        fused(F.col("polygon_id"), F.col("lat"), F.col("lon"),
              F.col("is_interior"))
    ).select("url", "layer", "polygon_id")
    assert _rows(old) == _rows(new)


def test_sqlverify_equals_kernel(spark, geo):
    """The r8 single-evaluation crossing fold (branch on sign(op.c),
    precomputed op columns) must match the Arrow-kernel join rows."""
    from s2_geometry_kotlin_spark.operators.spatial_join import spatial_join
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    layer = fixture_layer()
    kernel = spatial_join(geo, spark, layer, strategy="broadcast")
    sql = spatial_join(geo, spark, layer, strategy="broadcast",
                       verify="sql")
    assert _rows(kernel) == _rows(sql)


def test_components_assume_distinct_equivalence(spark):
    from s2_geometry_kotlin_spark.operators.components import \
        connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (10, 11), (11, 12), (3, 5)],
        "doc_a long, doc_b long")
    base = connected_components(pairs)
    fast = connected_components(pairs, assume_distinct=True)
    assert _rows(base) == _rows(fast)
    # duplicate edges with the flag OFF must still converge identically
    dup = pairs.unionAll(pairs)
    assert _rows(connected_components(dup)) == _rows(base)


def test_route_covering_memo(spark):
    from s2_geometry_kotlin_spark.kernel import coverer as cv
    from s2_geometry_kotlin_spark.operators import routes as R
    routes = R.fixture_routes()
    rad = 150000.0 / 6371010.0
    cv._MEMO.clear()
    fresh = R.buffered_route_covering(routes, rad, max_cells=64)
    memo = R.buffered_route_covering(routes, rad, max_cells=64)
    assert fresh is memo        # cache hit returns the same object
    cv._MEMO.clear()
    again = R.buffered_route_covering(routes, rad, max_cells=64)
    assert again == fresh       # recompute is deterministic


def test_shingles_zip_form_equals_index_form(spark):
    """The zip_with shingle expression must be array-identical
    (elements AND order) to the pre-r8 transform-over-indices form,
    including short-text edge cases."""
    from s2_geometry_kotlin_spark.operators.dedup import (SHINGLE_WORDS,
                                                          _shingles_spark)
    texts = ["a b c d e f", "one two three", "two words", "single", "",
             "  padded   spaces  x y z  ", "a a a a", "w1 w2 w3 w4 w5"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    w = F.split(F.trim(F.col("text")), " +")
    index_form = F.array_distinct(F.transform(
        F.sequence(F.lit(1),
                   F.greatest(F.size(w) - F.lit(SHINGLE_WORDS - 1),
                              F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, SHINGLE_WORDS))))
    rows = df.select("doc_id", _shingles_spark().alias("new"),
                     index_form.alias("old")).collect()
    for r in rows:
        assert list(r["new"]) == list(r["old"]), r


def test_minhash_verify_intersect_equals_join_form(spark):
    """The array-intersect Jaccard verify must emit exactly the rows of
    the pre-r8 candidate-fanout join verify over the same corpus."""
    from s2_geometry_kotlin_spark.operators.dedup import (
        JACCARD_THRESHOLD, _minhash_pairs_over, _shingle_rows_of)
    texts = [f"w{i} " + "common text body shared by near dups "
             + ("tail one" if i % 2 else "tail two")
             for i in range(12)] + ["totally different document here"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")
    new = _minhash_pairs_over(docs)
    # pre-r8 verify over the same candidate set
    sh = _shingle_rows_of(docs)
    cand = _minhash_pairs_over(docs, verify=False)
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (cand.join(sh_a, "doc_a").join(sh_b, ["doc_b", "shingle"])
              .groupBy("doc_a", "doc_b").agg(F.count("*").alias("n")))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    old = (shared
           .join(sizes.select(F.col("doc_id").alias("doc_a"),
                              F.col("n_sh").alias("na")), "doc_a")
           .join(sizes.select(F.col("doc_id").alias("doc_b"),
                              F.col("n_sh").alias("nb")), "doc_b")
           .withColumn("jaccard", F.round(
               F.col("n") / (F.col("na") + F.col("nb") - F.col("n")), 6))
           .where(F.col("jaccard") >= JACCARD_THRESHOLD)
           .select("doc_a", "doc_b", "jaccard"))
    assert _rows(new) == _rows(old)


def test_query_covering_memo():
    from s2_geometry_kotlin_spark.kernel import coverer as cv
    from s2_geometry_kotlin_spark.operators import knn as K
    qs = [(0, 48.8566, 2.3522), (1, 40.7128, -74.006)]
    cv._MEMO.clear()
    fresh = K._query_covering_rows(qs, 0.02)
    memo = K._query_covering_rows(qs, 0.02)
    assert fresh is memo
    cv._MEMO.clear()
    assert K._query_covering_rows(qs, 0.02) == fresh
