"""kNN escalation rounds as one Spark action each: the single-level
snapped query covering, the (dist2, url) tie-break of the one window,
and what a round leaves behind (no persisted RDDs, a LocalRelation
result, a bounded job count)."""

import math

import numpy as np
import pytest

from s2_geometry_kotlin_spark.kernel import cellid as ck
from s2_geometry_kotlin_spark.kernel import distance as dist
from s2_geometry_kotlin_spark.kernel.coverer import RegionCoverer
from s2_geometry_kotlin_spark.kernel.regions import Cap
from s2_geometry_kotlin_spark.operators.knn import (_query_covering_rows,
                                                    knn_points,
                                                    knn_points_farthest)

SCHEMA = "url string, x double, y double, z double, cell_id long"


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_kotlin_spark.session import get_spark
    s = get_spark("knn-one-action-tests", cpus=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _xyz(lat, lon):
    x, y, z = ck.latlng_deg_to_xyz(np.array([lat]), np.array([lon]))
    return np.array([x[0], y[0], z[0]])


def _page_rows(points):
    """[(url, lat, lon)] -> pages_xyz rows (leaf cell ids, signed)."""
    rows = []
    for url, lat, lon in points:
        p = _xyz(lat, lon)
        cid = int(ck.to_signed(ck.from_latlng_deg(np.array([lat]),
                                                  np.array([lon])))[0])
        rows.append((url, float(p[0]), float(p[1]), float(p[2]), cid))
    return rows


# -- the snapped covering ---------------------------------------------

def _covered(cell, snapped_ranges):
    """True when the union of the (disjoint) snapped ranges holds every
    leaf of `cell` (leaf ids are the odd ids of a range)."""
    lo, hi = ck.sc_range_min(cell), ck.sc_range_max(cell)
    inside = sum(max(0, (min(hi, b) - max(lo, a)) // 2 + 1)
                 for a, b in snapped_ranges)
    return inside == (hi - lo) // 2 + 1


def _batch(seed):
    """Seeded points plus a pole and both sides of the antimeridian."""
    rng = np.random.default_rng(seed)
    pts = [(90.0, 0.0), (-89.99, 45.0), (12.0, 179.999), (12.0, -179.999)]
    pts += [(float(rng.uniform(-90, 90)), float(rng.uniform(-180, 180)))
            for _ in range(5)]
    return [(i, lat, lon) for i, (lat, lon) in enumerate(pts)]


@pytest.mark.parametrize("antipodal", [False, True])
@pytest.mark.parametrize("radius", [1e-4, math.radians(8.0),
                                    math.radians(16.0), math.pi / 2,
                                    math.pi])
def test_snapped_covering_is_one_level_superset(radius, antipodal):
    queries = _batch(seed=int(radius * 1e4) + antipodal)
    level, rows = _query_covering_rows(queries, radius, antipodal=antipodal)
    unsigned = [(r[0], r[4] + (1 << 64) if r[4] < 0 else r[4])
                for r in rows]
    assert {ck.sc_level(c) for _, c in unsigned} == {level}
    assert len(set(unsigned)) == len(unsigned)
    coverer = RegionCoverer(max_cells=16)
    r2 = float(dist.radians_to_chord2(radius))
    for qid, lat, lon in queries:
        center = _xyz(lat, lon)
        cap = Cap(-center if antipodal else center, r2)
        ranges = [(ck.sc_range_min(c), ck.sc_range_max(c))
                  for q, c in unsigned if q == qid]
        assert ranges
        for cell in coverer.get_covering(cap):
            assert _covered(cell, ranges), (qid, radius, antipodal, cell)
        # the rows carry the true query point, not the antipode
        assert all(np.allclose(r[1:4], center) for r in rows if r[0] == qid)


# -- ranking ties -------------------------------------------------------

def _brute(rows, q, k, farthest):
    keyed = []
    for url, x, y, z, _ in rows:
        dx, dy, dz = x - q[0], y - q[1], z - q[2]
        d2 = dx * dx + dy * dy + dz * dz
        keyed.append((-d2 if farthest else d2, url))
    return [u for _, u in sorted(keyed)[:k]]


@pytest.mark.parametrize("farthest", [False, True])
def test_url_breaks_ties_straddling_rank_k(spark, farthest):
    """Pages at one coordinate under several urls straddle rank k; the
    ones ranked are the smallest urls, as brute force by (dist2, url)
    ranks them, from whichever partitions they arrive."""
    qlat, qlon = 20.0, 30.0
    # the tie group sits near the query point (near its antipode for
    # farthest); c1..c3 rank before it, f1.. after it
    near, step = (qlat + 0.3, qlon + 0.2), -0.05
    if farthest:
        near, step = (-qlat - 0.3, qlon - 180.0 + 0.2), 0.05
    points = [(f"t{c}", *near) for c in "qmzbxa"]
    points += [(f"c{i}", near[0] + step * i, near[1]) for i in range(1, 4)]
    points += [(f"f{i}", near[0] - 2.0 * i, near[1] + 1.0 * i)
               for i in range(1, 30)]
    rows = _page_rows(points)
    pages = spark.createDataFrame(rows, SCHEMA).repartition(3)
    q = _xyz(qlat, qlon)
    for k in (2, 4, 7, 10):
        knn = knn_points_farthest if farthest else knn_points
        got = sorted((r["rank"], r["url"])
                     for r in knn(pages, spark, [(0, qlat, qlon)],
                                  k).collect())
        assert [u for _, u in got] == _brute(rows, q, k, farthest), k
        assert [rk for rk, _ in got] == list(range(1, k + 1))


# -- what a round leaves behind ------------------------------------------

def _two_round_pages(spark):
    """Pages 1.1-1.7 degrees north of the query point (10, 20): from a
    1-degree start radius the 3rd nearest lies beyond the covered
    radius, so the op escalates once and converges at 2 degrees."""
    points = [(f"u{i}", 11.1 + 0.02 * i, 20.0) for i in range(30)]
    return spark.createDataFrame(_page_rows(points), SCHEMA)


@pytest.mark.parametrize("farthest", [False, True])
def test_knn_leaves_no_persisted_rdds(spark, farthest):
    pages = _two_round_pages(spark)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    if farthest:
        got = knn_points_farthest(pages, spark, [(0, 10.0, 20.0)], 3)
    else:
        got = knn_points(pages, spark, [(0, 10.0, 20.0)], 3,
                         initial_radius_rad=math.radians(1.0))
    assert got.count() == 3
    assert set(jsc.getPersistentRDDs().keySet()) == before


@pytest.mark.parametrize("farthest", [False, True])
def test_knn_result_is_local_relation(spark, farthest):
    pages = _two_round_pages(spark)
    knn = knn_points_farthest if farthest else knn_points
    got = knn(pages, spark, [(0, 10.0, 20.0), (1, -40.0, 100.0)], 3)
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert got.columns == ["query_id", "url", "dist_m", "rank"]
    assert got.count() == 6


def test_two_round_op_runs_at_most_three_jobs_per_round(spark):
    pages = _two_round_pages(spark)
    sc = spark.sparkContext
    stats = {}
    sc.setJobGroup("knn-two-rounds", "two-round kNN op")
    try:
        rows = knn_points(pages, spark, [(0, 10.0, 20.0)], 3,
                          initial_radius_rad=math.radians(1.0),
                          stats=stats).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("knn-two-rounds")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["rounds"] == 2
    assert [r["url"] for r in sorted(rows, key=lambda r: r["rank"])] == \
        ["u0", "u1", "u2"]
    assert len(jobs) <= 3 * stats["rounds"], len(jobs)
