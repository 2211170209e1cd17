"""Coverings and cell predicates pinned before the coverer was batched.

covering_pins.json holds, computed with the per-cell coverer:
- `fixture_clamped_rows`: the rows of build_covering_rows(fixture_layer())
  (the clamped spatial-join covering) with their is_interior flags;
- `covering_cases`: get_covering and get_interior_covering of seeded
  random one-loop, two-loop and complemented polygons (one around a
  pole, one across the antimeridian), caps and rects, and get_covering
  of two fixture routes and of loops drawn through cell corners, for
  max_cells in {1, 8, 32} and level_mod in {1, 2, 3};
- `cell_flags`: may_intersect_cell / contains_cell of every region
  above and of every fixture polygon over a fixed cell set: all cells
  of levels 0-2 and the children of every clamped fixture covering
  cell.  The corner-drawn loops put loop vertices on cell edges and
  corners of that set, where the boundary triage is uncertain;
- `cap_cases`: seeded caps of 2 m to 60 km around random centers, the
  kind the kNN probe and the per-edge coverings build, each with its
  get_covering (max_cells 8, level_mod 2) and the flags of its
  covering cells' children, which straddle the cap's edge.

Regenerate with `PYTHONPATH=. python tests/test_covering_pins.py` from
the repo root; it rewrites only these four keys.
"""

import json
import math
import os

import numpy as np
import pytest

from s2_geometry_kotlin_spark.kernel import cellid as ck
from s2_geometry_kotlin_spark.kernel.coverer import (RegionCoverer,
                                                     denormalize)
from s2_geometry_kotlin_spark.kernel.regions import (Cap, Cell, LatLngRect,
                                                     Loop, Polygon)

PINS_PATH = os.path.join(os.path.dirname(__file__), "covering_pins.json")
MAX_CELLS = (1, 8, 32)
LEVEL_MODS = (1, 2, 3)


def _signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _unsigned(v: int) -> int:
    return v + (1 << 64) if v < 0 else v


def _star_loop(rng, lat, lon, radius_deg, nv):
    """CCW star-shaped ring: nv vertices at jittered angular radii
    around (lat, lon)."""
    x, y, z = ck.latlng_deg_to_xyz(np.array([lat]), np.array([lon]))
    c = np.array([x[0], y[0], z[0]])
    t = np.array([0.0, 0.0, 1.0]) if abs(c[2]) < 0.9 else \
        np.array([1.0, 0.0, 0.0])
    e = np.cross(t, c)
    e /= np.linalg.norm(e)
    n = np.cross(c, e)
    out = np.empty((nv, 3))
    for k in range(nv):
        r = math.radians(radius_deg) * rng.uniform(0.5, 1.0)
        a = 2 * math.pi * k / nv
        d = math.cos(a) * e + math.sin(a) * n
        v = math.cos(r) * c + math.sin(r) * d
        out[k] = v / np.linalg.norm(v)
    return out


def _corner_loops(fixture_cells):
    """Loops whose vertices are corners of cells in the flag cell set."""
    face1 = Cell(ck.sc_child(int(ck.from_face(1)), 2))
    loops = {"corner_l1_cell": Polygon([Loop(face1.vertices().copy())])}
    for k, cid in enumerate(fixture_cells[:3]):
        cell = Cell(cid)
        v = cell.vertices()
        mid = Cell(ck.sc_child(cid, 0)).vertices()
        # the children's shared corner is a vertex of every child
        shared = [p for p in mid if not any((p == q).all() for q in v)]
        tri = np.array([v[0], v[1], shared[0]])
        loops[f"corner_cell_{k}"] = Polygon([Loop(v.copy())])
        loops[f"corner_tri_{k}"] = Polygon([Loop(tri)])
    return loops


def _regions(fixture_cells):
    from s2_geometry_kotlin_spark.operators.routes import fixture_routes
    rng = np.random.default_rng(20261021)
    regions = {}
    centers = [(90.0, 0.0, 6.0), (-3.0, 180.0, 4.0), (37.0, -122.0, 1.5),
               (-60.0, 45.0, 12.0)]
    for k, (lat, lon, r) in enumerate(centers):
        nv = int(rng.integers(6, 20))
        regions[f"one_loop_{k}"] = Polygon(
            [Loop(_star_loop(rng, lat, lon, r, nv))])
    shell = _star_loop(rng, 10.0, 179.0, 8.0, 14)
    hole = _star_loop(rng, 10.0, 179.0, 2.0, 9)[::-1].copy()
    regions["two_loop_hole"] = Polygon([Loop(shell), Loop(hole)])
    regions["two_loop_apart"] = Polygon([
        Loop(_star_loop(rng, -89.0, 30.0, 3.0, 11)),
        Loop(_star_loop(rng, -70.0, -170.0, 5.0, 8))])
    regions["complement_0"] = Polygon(
        [Loop(_star_loop(rng, 45.0, 10.0, 20.0, 10))]).complement()
    regions["complement_1"] = Polygon(
        [Loop(_star_loop(rng, 0.0, -180.0, 3.0, 7))]).complement()
    regions["cap_london"] = Cap.from_latlng_radius_deg(51.5, -0.12, 0.5)
    regions["cap_pole"] = Cap.from_latlng_radius_deg(90.0, 0.0, 3.0)
    regions["cap_antimeridian"] = Cap.from_latlng_radius_deg(-10.0, 180.0,
                                                             7.0)
    regions["rect_plain"] = LatLngRect.from_degrees(20, 35, -10, 15)
    regions["rect_antimeridian"] = LatLngRect.from_degrees(-5, 5, 170, -170)
    regions["rect_polar"] = LatLngRect.from_degrees(80, 90, -180, 180)
    for rid, line in fixture_routes()[:2]:
        regions[f"route_{rid}"] = line
    regions.update(_corner_loops(fixture_cells))
    return regions


def _covering_cases(regions):
    out = {}
    for name, region in regions.items():
        # A polyline contains no cell, so its interior covering would
        # visit every cell it crosses down to level 30.  A loop drawn on
        # cell edges makes every cell along it uncertain, so its
        # interior covering runs for minutes; its flags are pinned.
        kinds = ("cover",) if name.startswith(("route", "corner")) else \
            ("cover", "interior")
        for kind in kinds:
            for max_cells in MAX_CELLS:
                for level_mod in LEVEL_MODS:
                    cov = RegionCoverer(max_cells=max_cells,
                                        level_mod=level_mod)
                    cells = cov.get_covering(region) if kind == "cover" \
                        else cov.get_interior_covering(region)
                    out[f"{name}|{kind}|{max_cells}|{level_mod}"] = \
                        [_signed(c) for c in cells]
    return out


def _flag_cells(fixture_cells):
    cells = []
    for level in range(3):
        for face in range(6):
            cells.extend(denormalize([int(ck.from_face(face))], level, 1))
    for cid in fixture_cells:
        cells.extend(ck.sc_child(cid, pos) for pos in range(4))
    return cells


def _hex(flags) -> str:
    return np.packbits(np.asarray(flags, dtype=bool)).tobytes().hex()


def _flag_regions(fixture_cells):
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    regions = {f"fixture_{pid}": poly for _, pid, poly in fixture_layer()}
    regions.update(_regions(fixture_cells))
    return regions


def _scalar_flags(regions, cells):
    out = {}
    for name, region in regions.items():
        views = [Cell(c) for c in cells]
        out[name] = {
            "may": _hex([region.may_intersect_cell(v) for v in views]),
            "contains": _hex([region.contains_cell(v) for v in views])}
    return out


def _cap_cases():
    rng = np.random.default_rng(20261022)
    cov = RegionCoverer(max_cells=8, level_mod=2)
    out = []
    for _ in range(60):
        p = rng.normal(size=3)
        p /= np.linalg.norm(p)
        r2 = float(10.0 ** rng.uniform(-13, -4))
        cap = Cap(p, r2)
        cells = cov.get_covering(cap)
        kids = [ck.sc_child(c, pos) for c in cells for pos in range(4)]
        views = [Cell(c) for c in kids]
        out.append({
            "center": p.tolist(), "radius2": r2,
            "covering": [_signed(c) for c in cells],
            "may": _hex([cap.may_intersect_cell(v) for v in views]),
            "contains": _hex([cap.contains_cell(v) for v in views])})
    return out


def _fixture_rows():
    from s2_geometry_kotlin_spark.operators.spatial_join import \
        build_covering_rows
    from s2_geometry_kotlin_spark.sources.layers import fixture_layer
    return [list(r) for r in build_covering_rows(fixture_layer())]


def _fixture_cells(rows):
    return [_unsigned(r[2]) for r in rows]


def write_pins() -> None:
    with open(PINS_PATH) as f:
        pins = json.load(f)
    rows = _fixture_rows()
    fixture_cells = _fixture_cells(rows)
    cells = _flag_cells(fixture_cells)
    pins["fixture_clamped_rows"] = rows
    pins["covering_cases"] = _covering_cases(_regions(fixture_cells))
    pins["cell_flags"] = {
        "cells": [_signed(c) for c in cells],
        "regions": _scalar_flags(_flag_regions(fixture_cells), cells)}
    pins["cap_cases"] = _cap_cases()
    with open(PINS_PATH, "w") as f:
        json.dump(pins, f)


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def pins():
    with open(PINS_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def fixture_cells(pins):
    return _fixture_cells(pins["fixture_clamped_rows"])


def test_fixture_clamped_rows_match_pin(pins):
    assert _fixture_rows() == pins["fixture_clamped_rows"]


def test_covering_cases_match_pins(pins, fixture_cells):
    got = _covering_cases(_regions(fixture_cells))
    want = pins["covering_cases"]
    assert sorted(got) == sorted(want)
    bad = [k for k in want if got[k] != want[k]]
    assert not bad, bad


def test_flag_cell_set_is_pinned(pins, fixture_cells):
    assert [_signed(c) for c in _flag_cells(fixture_cells)] == \
        pins["cell_flags"]["cells"]


def test_corner_loops_touch_flag_cells(pins, fixture_cells):
    """The corner-drawn loops' vertices are corners of flag cells, so
    the flag pins cover the uncertain triage of shared vertices."""
    cells = [_unsigned(c) for c in pins["cell_flags"]["cells"]]
    corners = np.concatenate([Cell(c).vertices() for c in cells])
    for name, poly in _corner_loops(fixture_cells).items():
        for v in poly.loops[0].vertices:
            assert (corners == v).all(axis=1).any(), name


def test_batch_flags_match_pins(pins, fixture_cells):
    from s2_geometry_kotlin_spark.kernel.regions import Cells
    cells = Cells.from_ids([_unsigned(c)
                            for c in pins["cell_flags"]["cells"]])
    want = pins["cell_flags"]["regions"]
    regions = _flag_regions(fixture_cells)
    assert sorted(regions) == sorted(want)
    bad = []
    for name, region in regions.items():
        if _hex(region.may_intersect_cells(cells)) != want[name]["may"]:
            bad.append((name, "may"))
        if _hex(region.contains_cells(cells)) != want[name]["contains"]:
            bad.append((name, "contains"))
    assert not bad, bad


def test_scalar_flags_match_pins(pins, fixture_cells):
    """The one-cell predicates agree with the pins on every 13th cell."""
    cells = [_unsigned(c) for c in pins["cell_flags"]["cells"]]
    want = pins["cell_flags"]["regions"]
    idx = list(range(0, len(cells), 13))
    for name, region in _flag_regions(fixture_cells).items():
        may = np.unpackbits(np.frombuffer(
            bytes.fromhex(want[name]["may"]), dtype=np.uint8))
        con = np.unpackbits(np.frombuffer(
            bytes.fromhex(want[name]["contains"]), dtype=np.uint8))
        for k in idx:
            cell = Cell(cells[k])
            assert region.may_intersect_cell(cell) == bool(may[k]), \
                (name, k)
            assert region.contains_cell(cell) == bool(con[k]), (name, k)


def test_cap_cases_match_pins(pins):
    """Caps answer a batch with their own vectorized predicates, so
    their coverings and flags are pinned apart from the shared cases."""
    from s2_geometry_kotlin_spark.kernel.regions import Cells
    cov = RegionCoverer(max_cells=8, level_mod=2)
    for k, case in enumerate(pins["cap_cases"]):
        cap = Cap(np.array(case["center"]), case["radius2"])
        cells = cov.get_covering(cap)
        assert [_signed(c) for c in cells] == case["covering"], k
        kids = Cells.from_ids([ck.sc_child(c, pos)
                               for c in cells for pos in range(4)])
        assert _hex(cap.may_intersect_cells(kids)) == case["may"], k
        assert _hex(cap.contains_cells(kids)) == case["contains"], k


if __name__ == "__main__":
    write_pins()
