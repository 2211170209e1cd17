"""S2ShapeIndexRegion / S2ShapeIndexBufferedRegion equivalents over a
mixed-geometry collection (region/S2ShapeIndexRegion.kt,
region/S2ShapeIndexBufferedRegion.kt) — the region adapters that let
the C1/C2 RegionCoverer cover an arbitrary collection of points,
polylines and polygons (boolean_mixed.LaxGeometry here, where the
reference uses an S2ShapeIndex).

Semantics (S2ShapeIndexRegion.kt:60-75):
- containsCell: the cell lies entirely in the collection's
  2-dimensional interior (lower-dimensional shapes cannot contain a
  cell);
- mayIntersectCell: any shape of any dimension may intersect the cell
  (conservative true is allowed and only costs covering tightness).

The buffered variant expands the region by a radius: a cell may
intersect iff its distance to the collection is <= radius, and is
contained iff the FULL cell lies within the buffered set — decided
conservatively via the cell's circumscribed cap
(S2ShapeIndexBufferedRegion.kt:48-62: "the implementation is
approximate but conservative").
"""

from __future__ import annotations

import math

import numpy as np

from . import cellid as ck
from .boolean_mixed import LaxGeometry
from .clipping import (FACE_CLIP_ERROR_UV_COORD,
                       INTERSECTS_RECT_ERROR_UV_DIST, clip_to_padded_face,
                       get_face_segments, intersects_rect)
from .edges import cell_edge_chord2, cell_point_chord2
from .regions import (Cap, Cell, CellRegion, LatLngRect, Loop,
                      PerCellPredicates, Polygon)

# anyEdgeIntersects error margin (S2ShapeIndexRegion.kt:247): an edge
# within this uv distance of a cell counts as intersecting, which keeps
# the answer conservative without ever being more than ~10*eps rad off.
_MAX_ERROR_UV = FACE_CLIP_ERROR_UV_COORD + INTERSECTS_RECT_ERROR_UV_DIST


def _chord2(r: float) -> float:
    s = math.sin(min(r, math.pi) / 2.0)
    return 4.0 * s * s


def _smallest_cell_from_uv(face: int, u_lo: float, v_lo: float,
                           u_hi: float, v_hi: float) -> int:
    """The smallest cell on `face` whose uv bound contains the given
    rectangle: the lowest common ancestor of the rectangle's corner
    leaf cells."""
    clamp = lambda x: max(-1.0, min(1.0, x))  # noqa: E731
    i0 = ck.sc_st_to_ij(ck.sc_uv_to_st(clamp(u_lo)))
    j0 = ck.sc_st_to_ij(ck.sc_uv_to_st(clamp(v_lo)))
    i1 = ck.sc_st_to_ij(ck.sc_uv_to_st(clamp(u_hi)))
    j1 = ck.sc_st_to_ij(ck.sc_uv_to_st(clamp(v_hi)))
    a = ck.sc_from_face_ij(face, i0, j0)
    b = ck.sc_from_face_ij(face, i1, j1)
    lvl = int(ck.common_ancestor_level(
        np.array([a], dtype=np.uint64), np.array([b], dtype=np.uint64))[0])
    return int(ck.sc_parent(a, lvl))


def _sc_next(cid: int) -> int:
    return cid + (ck.sc_lsb(cid) << 1)


def _cover_range(first: int, last: int, out: list) -> None:
    """coverRange (S2ShapeIndexRegion.kt:270-280): the lowest common
    ancestor of a run of index cells."""
    if first == last:
        out.append(first)
        return
    lvl = int(ck.common_ancestor_level(
        np.array([first], dtype=np.uint64),
        np.array([last], dtype=np.uint64))[0])
    out.append(int(ck.sc_parent(first, lvl)))


def _shape_edges(geom: LaxGeometry):
    """(a, b) endpoint arrays of every polyline and loop edge, or None."""
    a, b = [], []
    for ln in geom.lines:
        a.extend(ln[:-1])
        b.extend(ln[1:])
    for lo in geom.loops:
        lo = np.asarray(lo)
        n = len(lo)
        if n == 1:
            continue
        for i in range(n):
            a.append(lo[i])
            b.append(lo[(i + 1) % n])
    if not a:
        return None
    return np.asarray(a), np.asarray(b)


def _any_edge_intersects(edges, cell: Cell) -> bool:
    """S2ShapeIndexRegion.anyEdgeIntersects (S2ShapeIndexRegion.kt:
    246-258): clip each edge to the cell's face padded by _MAX_ERROR_UV
    and test the 2D segment against the cell's expanded uv bound.
    Conservative within ~10*eps radians, deterministic — no exact
    arithmetic needed."""
    if edges is None:
        return False
    face, _, _ = ck.sc_to_face_ij(cell.id)
    u_lo, u_hi, v_lo, v_hi = ck.sc_bound_uv(cell.id)
    u_lo -= _MAX_ERROR_UV
    v_lo -= _MAX_ERROR_UV
    u_hi += _MAX_ERROR_UV
    v_hi += _MAX_ERROR_UV
    a, b = edges
    for i in range(len(a)):
        seg = clip_to_padded_face(a[i], b[i], face, _MAX_ERROR_UV)
        if seg is not None and \
                intersects_rect(seg[0], seg[1], u_lo, u_hi, v_lo, v_hi):
            return True
    return False


class GeometryRegion(PerCellPredicates):
    """S2ShapeIndexRegion over one LaxGeometry collection or — matching
    the reference's multi-shape index, where containment means ANY
    shape contains the cell — a list of them."""

    def __init__(self, geom: LaxGeometry | list):
        shapes = list(geom) if isinstance(geom, (list, tuple)) \
            else [geom]
        self.shapes = shapes
        if len(shapes) == 1:
            self.geom = shapes[0]
        else:
            g = LaxGeometry()
            for s in shapes:
                g.points.extend(s.points)
                g.lines.extend(s.lines)
                g.loops.extend(s.loops)
                g.full = g.full or s.full
                g.full_count += s.full_count
            self.geom = g
        # per-shape solid polygon + edge table (union-of-shapes
        # containment; holes stay holes within one shape)
        self.polygons = []
        self._shape_data = []
        for s in shapes:
            solid = [lo for lo in s.loops if len(lo) >= 3]
            poly = Polygon([Loop(np.asarray(lo)) for lo in solid]) \
                if solid else None
            if poly is not None:
                self.polygons.append(poly)
            self._shape_data.append((poly, _shape_edges(s)))
        self._edges = _shape_edges(self.geom)

    def index_cells(self) -> list[int]:
        """The cell-keyed analogue of the reference's shape-index cells
        (MutableS2ShapeIndex): one leaf per point, and per edge the
        smallest cell containing the edge's padded uv bound on each
        face it touches (kernel.clipping face segments; the pad is the
        face-clip error, S2EdgeClipping.kt:100-107, so coverage is
        rigorous).  Normalized: sorted, disjoint."""
        if self.geom.full:
            return [int(c) for c in ck.from_face(np.arange(6))]
        cells: set[int] = set()
        pts = list(self.geom.points)
        for lo in self.geom.loops:
            if len(lo) == 1:          # degenerate point shell/hole
                pts.append(np.asarray(lo)[0])
        for p in pts:
            p = np.asarray(p, dtype=np.float64)
            cells.add(int(ck.from_xyz(np.array([p[0]]), np.array([p[1]]),
                                      np.array([p[2]]))[0]))
        if self._edges is not None:
            a, b = self._edges
            pad = 2.0 * FACE_CLIP_ERROR_UV_COORD
            for i in range(len(a)):
                for face, auv, buv in get_face_segments(a[i], b[i]):
                    cells.add(_smallest_cell_from_uv(
                        int(face),
                        min(float(auv[0]), float(buv[0])) - pad,
                        min(float(auv[1]), float(buv[1])) - pad,
                        max(float(auv[0]), float(buv[0])) + pad,
                        max(float(auv[1]), float(buv[1])) + pad))
        from .coverer import normalize
        return normalize(list(cells))

    def cell_union_bound(self) -> list[int]:
        """S2ShapeIndexRegion.getCellUnionBound
        (S2ShapeIndexRegion.kt:87-147): at most 4 cells when the index
        lies in one face, at most 6 across faces.  Chunk the index
        cells at (common-ancestor-level + 1) and emit the lowest common
        ancestor of each chunk."""
        ids = self.index_cells()
        if not ids:
            return []
        out: list[int] = []
        first_id, last_id = ids[0], ids[-1]
        if first_id == last_id:
            out.append(first_id)
            return out
        lvl = int(ck.common_ancestor_level(
            np.array([first_id], dtype=np.uint64),
            np.array([last_id], dtype=np.uint64))[0]) + 1
        cid = int(ck.sc_parent(first_id, lvl))
        last_parent = int(ck.sc_parent(last_id, lvl))
        i = 0
        while cid != last_parent:
            if int(ck.sc_range_max(cid)) < ids[i]:
                cid = _sc_next(cid)
                continue
            first = ids[i]
            while i + 1 < len(ids) and \
                    ids[i + 1] <= int(ck.sc_range_max(cid)):
                i += 1
            _cover_range(first, ids[i], out)
            i += 1
            cid = _sc_next(cid)
        _cover_range(ids[i], last_id, out)
        return out

    def cap_bound(self) -> Cap:
        """S2ShapeIndexRegion.capBound (S2ShapeIndexRegion.kt:71-75)
        via S2CellUnion.capBound (S2CellUnion.kt:419-448): centroid of
        the cell-union bound weighted by average cell area, grown about
        that fixed axis to contain every cell's cap."""
        if self.geom.full:
            return Cap(np.array([0.0, 0.0, 1.0]), 4.0)
        cub = self.cell_union_bound()
        if not cub:
            return Cap(np.array([0.0, 0.0, 1.0]), -1.0)
        centroid = np.zeros(3)
        for cid in cub:
            centroid += ck.cell_average_area(ck.sc_level(cid)) * \
                np.array(ck.sc_center_xyz(cid))
        n = float(np.linalg.norm(centroid))
        centroid = centroid / n if n > 0 else np.array([1.0, 0.0, 0.0])
        cap = Cap(centroid, 0.0)
        for cid in cub:
            cap = cap.add_cap(CellRegion(cid).cap_bound())
        return cap

    def rect_bound(self) -> LatLngRect:
        """S2ShapeIndexRegion.rectBound (S2ShapeIndexRegion.kt:77-82):
        union of the cell-union bound's cell rect bounds."""
        bound = LatLngRect.empty()
        for cid in self.cell_union_bound():
            bound = bound.union(Cell(cid).rect_bound())
        return bound

    def contains_cell(self, cell: Cell) -> bool:
        """S2ShapeIndexRegion.contains (S2ShapeIndexRegion.kt:155-181):
        some 2-dimensional shape contains the cell, decided as "none of
        the shape's edges intersects the padded cell AND the shape
        contains the cell center"."""
        if self.geom.full:
            return True
        for poly, edges in self._shape_data:
            if poly is None:
                continue
            if not _any_edge_intersects(edges, cell) and \
                    poly.contains_point(cell.center()):
                return True
        return False

    def may_intersect_cell(self, cell: Cell) -> bool:
        """S2ShapeIndexRegion.mayIntersect
        (S2ShapeIndexRegion.kt:189-216): any edge intersects the padded
        cell, any point lies in the cell, or some polygon contains the
        cell center."""
        if self.geom.full:
            return True
        if _any_edge_intersects(self._edges, cell):
            return True
        for p in self.geom.points:
            if cell.contains_point(np.asarray(p)):
                return True
        center = cell.center()
        return any(poly.contains_point(center) for poly in self.polygons)

    def contains_point(self, p: np.ndarray) -> bool:
        """Point membership in the collection's CLOSED point set (used
        by covering sanity checks)."""
        if self.geom.full:
            return True
        if any(poly.contains_point(p) for poly in self.polygons):
            return True
        if self._edges is not None:
            a, b = self._edges
            from .edges import point_edge_chord2
            if float(point_edge_chord2(p[None, :], a, b).min()) < 1e-24:
                return True
        return any(float(np.linalg.norm(np.asarray(q) - p)) < 1e-12
                   for q in self.geom.points)


class BufferedGeometryRegion(PerCellPredicates):
    """S2ShapeIndexBufferedRegion: GeometryRegion expanded by
    `radius` radians.  mayIntersectCell is exact to the distance
    kernels; containsCell is conservative via the circumscribed cap
    (false negatives only cost covering tightness,
    S2ShapeIndexBufferedRegion.kt:48-62)."""

    def __init__(self, geom: LaxGeometry, radius: float):
        self.base = GeometryRegion(geom)
        self.radius = float(radius)

    def cap_bound(self) -> Cap:
        c = self.base.cap_bound()
        if c.is_empty():
            return c
        r = 2.0 * math.asin(min(1.0, math.sqrt(
            max(0.0, c.radius2)) / 2.0))
        return Cap(c.center, _chord2(min(math.pi, r + self.radius)))

    def _dist2_to_cell(self, cell: Cell) -> float:
        if self.base.geom.full:
            return 0.0
        best = 4.0
        g = self.base.geom
        if g.points:
            d2 = cell_point_chord2(np.array([cell.id], dtype=np.uint64),
                                   np.asarray(g.points))
            best = min(best, float(d2.min()))
        if self.base._edges is not None:
            a, b = self.base._edges
            best = min(best, float(cell_edge_chord2(cell.id, a, b).min()))
        if any(poly.may_intersect_cell(cell)
               for poly in self.base.polygons):
            best = 0.0
        return best

    def may_intersect_cell(self, cell: Cell) -> bool:
        return self._dist2_to_cell(cell) <= _chord2(self.radius)

    def contains_cell(self, cell: Cell) -> bool:
        # S2ShapeIndexBufferedRegion.contains (:60-66): a cell already
        # inside the unbuffered region is contained for any radius;
        # otherwise conservative: the whole circumscribed cap of the
        # cell lies within the buffered set iff dist(center, geometry)
        # + cap_radius <= radius
        if self.base.contains_cell(cell):
            return True
        center = cell.center()
        g = self.base.geom
        if g.full:
            return True
        d2 = 4.0
        if g.points:
            pd = np.asarray(g.points) - center
            d2 = min(d2, float((pd * pd).sum(axis=1).min()))
        if self.base._edges is not None:
            from .edges import point_edge_chord2
            a, b = self.base._edges
            d2 = min(d2, float(
                point_edge_chord2(center[None, :], a, b).min()))
        if any(poly.contains_point(center)
               for poly in self.base.polygons):
            d2 = 0.0
        d = 2.0 * math.asin(min(1.0, math.sqrt(max(0.0, d2)) / 2.0))
        r2 = 0.0
        for v in cell.vertices():
            dv = center - v
            r2 = max(r2, float(dv @ dv))
        cell_r = 2.0 * math.asin(min(1.0, math.sqrt(r2) / 2.0))
        return d + cell_r <= self.radius
