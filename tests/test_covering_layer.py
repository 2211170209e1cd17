"""The shared covering layer (kernel/coverer.py): the bounded covering
memo, the one S2CellUnion.expand, and the kNN escalation loop's empty
batch.

covering_pins.json holds the buffered coverings and the expand_union
output computed before the operators' own expand copies were merged
into kernel.coverer.expand; the merged expand must reproduce them cell
for cell (the oracle checks compare only final rows, never coverings).
"""

import json
import os

import pytest

from s2_geometry_kotlin_spark.kernel import cellid as ck
from s2_geometry_kotlin_spark.kernel import coverer as cv
from s2_geometry_kotlin_spark.kernel.coverer import RegionCoverer
from s2_geometry_kotlin_spark.kernel.regions import Cap

EARTH_RADIUS_M = 6371010.0

with open(os.path.join(os.path.dirname(__file__),
                       "covering_pins.json")) as _f:
    PINS = json.load(_f)


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_kotlin_spark.session import get_spark
    s = get_spark("covering-layer-tests", cpus=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _signed(v):
    return v - (1 << 64) if v >= (1 << 63) else v


def _london_union():
    """The union of tests/test_cellunion_ops.py's expand test."""
    return RegionCoverer(max_cells=8).get_covering(
        Cap.from_latlng_radius_deg(51.5, -0.12, 0.5))


def test_buffered_polygon_covering_matches_pin():
    from s2_geometry_kotlin_spark.operators.spatial_join import \
        build_buffered_covering_rows
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    rows = build_buffered_covering_rows(fixture_layer(),
                                        100000.0 / EARTH_RADIUS_M)
    assert [list(r) for r in rows] == PINS["polygon_100km"]


def test_buffered_route_covering_matches_pin():
    from s2_geometry_kotlin_spark.operators.routes import (
        buffered_route_covering, fixture_routes)
    rows = buffered_route_covering(fixture_routes(),
                                   150000.0 / EARTH_RADIUS_M, max_cells=64)
    assert [list(r) for r in rows] == PINS["route_150km"]


def test_expand_union_matches_pin(spark):
    from s2_geometry_kotlin_spark.operators import cellunion as cu
    cov = _london_union()
    level = max(ck.sc_level(c) for c in cov)
    assert level == PINS["expand_level"]
    df = spark.createDataFrame([(1, _signed(c)) for c in cov],
                               "geom_id long, cell_id long")
    got = sorted(r["cell_id"] for r in cu.expand_union(df, level).collect())
    assert got == PINS["expand_union"]
    assert sorted(_signed(c) for c in cv.expand(cov, level=level)) == got


def test_memo_is_bounded_lru():
    """A long-lived driver that sees more query batches than the bound:
    the memo never holds more than MEMO_ENTRIES results, an entry
    survives MEMO_ENTRIES - 1 newer keys, a hit makes it the newest
    again, and an evicted batch recomputes equal rows."""
    from s2_geometry_kotlin_spark.operators.knn import _query_covering_rows
    cv._MEMO.clear()
    batches = [[(i, -60.0 + i * 0.4, 10.0 + i)]
               for i in range(cv.MEMO_ENTRIES + 5)]
    first = _query_covering_rows(batches[0], 0.01)
    second = _query_covering_rows(batches[1], 0.01)
    for b in batches[2:cv.MEMO_ENTRIES]:
        _query_covering_rows(b, 0.01)
    assert len(cv._MEMO) == cv.MEMO_ENTRIES
    assert _query_covering_rows(batches[0], 0.01) is first
    for b in batches[cv.MEMO_ENTRIES:]:
        newest = _query_covering_rows(b, 0.01)
        assert len(cv._MEMO) <= cv.MEMO_ENTRIES
    assert len(cv._MEMO) == cv.MEMO_ENTRIES
    assert _query_covering_rows(batches[-1], 0.01) is newest
    assert _query_covering_rows(batches[0], 0.01) is first
    again = _query_covering_rows(batches[1], 0.01)
    assert again is not second and again == second
    cv._MEMO.clear()


def test_memo_threads_share_it_safely():
    """Driver threads hit, insert and evict concurrently: no call
    fails, every call gets its own key's value, the bound holds."""
    import sys
    import threading
    cv._MEMO.clear()
    errors = []

    def worker(t):
        try:
            for i in range(2000):
                key = ("stress", (i * 7 + t) % (2 * cv.MEMO_ENTRIES))
                assert cv.memoized(key, lambda: key) == key
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,))
                   for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(cv._MEMO) <= cv.MEMO_ENTRIES
    cv._MEMO.clear()


def test_memo_concurrent_misses_compute_once():
    """Threads that miss on one key at the same time share one compute
    and get the same object; a compute that raises lets a waiting
    caller compute instead."""
    import threading
    import time
    cv._MEMO.clear()
    calls = []

    def slow():
        calls.append(1)
        time.sleep(0.05)
        return ["rows"]

    got = []
    threads = [threading.Thread(
        target=lambda: got.append(cv.memoized(("concurrent",), slow)))
        for _ in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=60)
    assert len(calls) == 1 and len(got) == 8
    assert all(g is got[0] for g in got)

    started = threading.Event()

    def failing():
        started.set()
        time.sleep(0.05)
        raise RuntimeError("compute failed")

    errors = []

    def first():
        try:
            cv.memoized(("retry",), failing)
        except RuntimeError as e:
            errors.append(e)

    th = threading.Thread(target=first)
    th.start()
    assert started.wait(timeout=60)
    assert cv.memoized(("retry",), lambda: "second") == "second"
    th.join(timeout=60)
    assert len(errors) == 1 and not cv._RUNNING
    cv._MEMO.clear()


def test_memo_key_tells_a_polygon_from_its_complement():
    """A polygon and its complement share their loops and differ only
    in the complement bit; their coverings must not share a memo
    entry."""
    from s2_geometry_kotlin_spark.operators.spatial_join import \
        build_covering_rows
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    layer, pid, poly = fixture_layer()[0]
    inner = build_covering_rows([(layer, pid, poly)])
    outer = build_covering_rows([(layer, pid, poly.complement())])
    assert {r[2] for r in inner} != {r[2] for r in outer}


@pytest.mark.parametrize("farthest", [False, True])
def test_knn_empty_query_list(spark, farthest):
    from s2_geometry_kotlin_spark.operators.knn import (knn_points,
                                                        knn_points_farthest)
    pages = spark.createDataFrame(
        [("u1", 1.0, 0.0, 0.0, 0)],
        "url string, x double, y double, z double, cell_id long")
    knn = knn_points_farthest if farthest else knn_points
    got = knn(pages, spark, [], 3)
    assert got.columns == ["query_id", "url", "dist_m", "rank"]
    assert got.collect() == []
