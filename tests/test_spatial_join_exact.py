"""The spatial join has one verdict path, and it is exact: every
strategy returns exactly the rows of the numpy point-in-polygon kernel
(`pip.polygon_contains_points`, SEMI_OPEN with exact escalation) over
the same (lat, lon), including points on polygon vertices and edges
where sign triage alone is uncertain."""

import json
import os

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PAGES = "url string, lat double, lon double"


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_kotlin_spark.session import get_spark
    s = get_spark("spatial-join-exact", cpus=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def layer():
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    return fixture_layer()


def _boundary_points(layer):
    """Every vertex and every normalized edge midpoint of every loop."""
    from s2_geometry_kotlin_spark.kernel import cellid as ck
    pts = []
    for _, _, poly in layer:
        for lp in poly.loops:
            v = lp.vertices
            mid = v + np.roll(v, -1, axis=0)
            mid /= np.linalg.norm(mid, axis=1, keepdims=True)
            pts.extend([v, mid])
    lat, lon = ck.xyz_to_latlng_deg(*np.concatenate(pts).T)
    return [(float(a), float(b)) for a, b in zip(lat, lon)]


def _inputs(layer):
    paris = (48.8566, 2.3522)
    return {
        "boundary": _boundary_points(layer),
        "empty": [],
        "all_null": [(None, None)] * 5,
        "one_page": [paris],
        "one_leaf": [paris] * 50,
        "poles": [(90.0, 0.0), (-90.0, 0.0)],
        "antimeridian": [(0.0, 180.0), (0.0, -180.0), (0.5, 180.0),
                         (-0.5, -180.0), (80.0, 180.0), (80.0, -180.0)],
    }


def _reference(layer, points):
    """(url, layer, polygon_id) rows the numpy kernel says contain."""
    from s2_geometry_kotlin_spark.kernel import cellid as ck
    from s2_geometry_kotlin_spark.kernel import pip
    ok = [i for i, (la, lo) in enumerate(points) if la is not None]
    if not ok:
        return []
    lat = np.array([points[i][0] for i in ok])
    lon = np.array([points[i][1] for i in ok])
    xyz = np.stack(ck.latlng_deg_to_xyz(lat, lon), axis=1)
    rows = []
    for name, pid, poly in layer:
        inside = pip.polygon_contains_points(
            [lp.vertices for lp in poly.loops], xyz,
            inverted=bool(getattr(poly, "inverted", False)))
        rows += [(f"p{ok[k]}", name, pid) for k in np.flatnonzero(inside)]
    return sorted(rows)


def _pages(spark, points):
    from s2_geometry_kotlin_spark import functions as s2f
    df = spark.createDataFrame(
        [(f"p{i}", la, lo) for i, (la, lo) in enumerate(points)], PAGES)
    return df.withColumn("cell_id", s2f.s2_cellid("lat", "lon"))


@pytest.mark.parametrize("case", ["boundary", "empty", "all_null",
                                  "one_page", "one_leaf", "poles",
                                  "antimeridian"])
@pytest.mark.parametrize("strategy", ["broadcast", "salted", "range"])
def test_join_equals_numpy_kernel(spark, layer, strategy, case):
    from s2_geometry_kotlin_spark.operators.spatial_join import spatial_join
    points = _inputs(layer)[case]
    expect = _reference(layer, points)
    got = sorted(tuple(r) for r in spatial_join(
        _pages(spark, points), spark, layer, strategy=strategy).collect())
    assert got == expect
    if case == "boundary":
        assert (len(points), len(expect)) == (530, 630)
    if case in ("one_page", "one_leaf", "poles", "antimeridian"):
        assert expect, "the case must exercise a contained row"


RADIUS_RAD = 100000.0 / 6371010.0   # 100 km, the registry's within_100km


def _within_reference(layer, points, radius_rad):
    """(url, layer, polygon_id) rows the numpy kernels put within the
    radius: contained, or a loop edge within the chord distance."""
    from s2_geometry_kotlin_spark.kernel import cellid as ck
    from s2_geometry_kotlin_spark.kernel import distance as dist
    from s2_geometry_kotlin_spark.kernel import pip
    ok = [i for i, (la, lo) in enumerate(points) if la is not None]
    if not ok:
        return []
    lat = np.array([points[i][0] for i in ok])
    lon = np.array([points[i][1] for i in ok])
    xyz = np.stack(ck.latlng_deg_to_xyz(lat, lon), axis=1)
    max_d2 = float(dist.radians_to_chord2(radius_rad))
    rows = []
    for name, pid, poly in layer:
        near = pip.polygon_contains_points(
            [lp.vertices for lp in poly.loops], xyz,
            inverted=bool(getattr(poly, "inverted", False)))
        for lp in poly.loops:
            v = lp.vertices
            near |= dist.point_edge_chord2(
                xyz, v, np.roll(v, -1, axis=0)).min(axis=1) <= max_d2
        rows += [(f"p{ok[k]}", name, pid) for k in np.flatnonzero(near)]
    return sorted(rows)


@pytest.mark.parametrize("case", ["boundary", "empty", "all_null",
                                  "one_page", "poles", "antimeridian"])
def test_within_distance_join_equals_numpy_kernels(spark, layer, case):
    """within_distance_join over the coverer's buffered covering returns
    exactly the rows of the numpy containment and point-edge distance
    kernels, on the degenerate inputs too."""
    from s2_geometry_kotlin_spark.operators.spatial_join import \
        within_distance_join
    points = _inputs(layer)[case]
    expect = _within_reference(layer, points, RADIUS_RAD)
    got = sorted(tuple(r) for r in within_distance_join(
        _pages(spark, points), spark, layer, RADIUS_RAD).collect())
    assert got == expect
    if case in ("boundary", "one_page", "poles", "antimeridian"):
        assert expect, "the case must exercise a row within the radius"


@pytest.mark.parametrize("verify", ["sql", "SQL", "Kernel", ""])
def test_unknown_verify_raises(spark, layer, verify):
    from s2_geometry_kotlin_spark.operators.spatial_join import spatial_join
    pages = _pages(spark, [(48.8566, 2.3522)])
    with pytest.raises(ValueError, match="unknown verify"):
        spatial_join(pages, spark, layer, verify=verify)


def test_verify_none_is_a_candidate_superset(spark, layer):
    from s2_geometry_kotlin_spark.operators.spatial_join import spatial_join
    pages = _pages(spark, _boundary_points(layer))
    for strategy in ("broadcast", "salted"):
        cand = {tuple(r) for r in spatial_join(
            pages, spark, layer, strategy=strategy,
            verify="none").collect()}
        exact = {tuple(r) for r in spatial_join(
            pages, spark, layer, strategy=strategy).collect()}
        assert exact < cand


def test_range_index_refs_match_pins(layer):
    """The CellIndex-built range index returns, for each covering-range
    end leaf and its two neighbouring leaves, the covering-row refs the
    earlier hand-written rangeNodes sweep returned (covering_pins.json
    `range_index_refs`: [signed leaf id, sorted refs])."""
    from s2_geometry_kotlin_spark.operators.spatial_join import \
        build_range_index
    with open(os.path.join(HERE, "covering_pins.json")) as f:
        pins = json.load(f)["range_index_refs"]
    starts, offsets, refs, _ = build_range_index(layer)
    leaves = np.array([p[0] for p in pins], dtype=np.int64).view(np.uint64)
    seg = np.searchsorted(starts, leaves, side="right") - 1
    got = [sorted(refs[offsets[k]:offsets[k + 1]].tolist()) for k in seg]
    assert got == [p[1] for p in pins]
    assert sum(1 for p in pins if p[1]) > 2000


def test_null_cell_id_stabs_no_covering_row(spark):
    """A null cell id is no leaf and must hit no covering row.  Read as
    a plain int64 it is int64 min, i.e. 2^63 as uint64, which lies in
    the CellIndex range of face 3's last leaf (a range ends at its
    cell's range_max + 2) — here a cube-corner polygon's covering."""
    from s2_geometry_kotlin_spark.kernel.regions import Loop, Polygon
    from s2_geometry_kotlin_spark.operators.spatial_join import (
        build_range_index, make_stab_udf)
    from s2_geometry_kotlin_spark.sources.layers import \
        regular_loop_vertices
    layer = [("corner", 0, Polygon([Loop(
        regular_loop_vertices(35.2644, -135.0, 3.0, 16))]))]
    starts, offsets, refs, _ = build_range_index(layer)
    stab = make_stab_udf(starts, offsets, refs)
    face3_last_leaf = (4 << 61) - 1
    df = spark.createDataFrame([(None,), (face3_last_leaf,)],
                               "cell_id long")
    got = [r[0] for r in df.select(stab("cell_id")).collect()]
    assert got[0] == []
    assert got[1], "the corner covering must hold face 3's last leaf"
