"""Region types implementing the S2Region contract used by the coverer
(SURVEY.md §1.2): cap_bound, may_intersect_cell, contains_cell,
contains_point, and the batch forms may_intersect_cells / contains_cells
over a `Cells` batch.  Cap, Loop and Polygon answer a batch with numpy
passes over all its cells (per loop, for a polygon), and their one-cell
predicates are batches of one; the other regions loop over their
one-cell predicates (`PerCellPredicates`).

These run driver-side over polygon *layers* (small); the per-page hot path
never touches them — it goes through the exploded covering DataFrame and
the vectorized PIP/distance kernels.

Reference semantics:
- S2Cap:        dilivia/s2/region/S2Cap.kt:77-485
- S2LatLngRect: dilivia/s2/region/S2LatLngRect.kt
- S2Loop:       dilivia/s2/region/S2Loop.kt (bound: 925-966)
- S2Polygon:    dilivia/s2/region/S2Polygon.kt
- S2Cell:       dilivia/s2/region/S2Cell.kt (contains: 528-542)
"""

from __future__ import annotations

import math

import numpy as np

from . import cellid as ck
from . import distance as dist
from . import pip
from . import predicates as pred
from .tables import POS_TO_IJ, POS_TO_ORIENTATION

DBL_EPS = 2.220446049250313e-16


# ---------------------------------------------------------------------------
# Cell geometry: one cell (Cell) and a batch of cells (Cells)
# ---------------------------------------------------------------------------

_UNORM = [
    lambda u: np.array([u, -1.0, 0.0]),
    lambda u: np.array([1.0, u, 0.0]),
    lambda u: np.array([1.0, 0.0, u]),
    lambda u: np.array([-u, 0.0, 1.0]),
    lambda u: np.array([0.0, -u, 1.0]),
    lambda u: np.array([0.0, -1.0, -u]),
]
_VNORM = [
    lambda v: np.array([-v, 0.0, 1.0]),
    lambda v: np.array([0.0, -v, 1.0]),
    lambda v: np.array([0.0, -1.0, -v]),
    lambda v: np.array([v, -1.0, 0.0]),
    lambda v: np.array([1.0, v, 0.0]),
    lambda v: np.array([1.0, 0.0, v]),
]
# A cell's inward edge normals (S2Cell.getEdgeRaw: vNorm(v_lo),
# uNorm(u_hi), -vNorm(v_hi), -uNorm(u_lo)) as coef * t + offset per
# face and edge, t the edge's uv value (v_lo, u_hi, v_hi, u_lo).  Every
# coefficient is 0 or +-1, so the normals are exact.
_EDGE_SIGNS = (1.0, 1.0, -1.0, -1.0)
_EDGE_NORMS = (_VNORM, _UNORM, _VNORM, _UNORM)
_EDGE_COEF = np.array([[sign * (norm[f](1.0) - norm[f](0.0))
                        for sign, norm in zip(_EDGE_SIGNS, _EDGE_NORMS)]
                       for f in range(6)])                   # (6, 4, 3)
_EDGE_OFFSET = np.array([[sign * norm[f](0.0)
                          for sign, norm in zip(_EDGE_SIGNS, _EDGE_NORMS)]
                         for f in range(6)])
# each edge's uv value, as rows of a (4, m) uv-bounds array
_EDGE_UV_ROW = [2, 1, 3, 0]


def _face_uv(p: np.ndarray, face: int) -> tuple[float, float] | None:
    """p projected onto `face` (validFaceXyzToUv: divide by the raw
    signed component), or None when p is on the face's back hemisphere."""
    x, y, z = float(p[0]), float(p[1]), float(p[2])
    if (x, y, z, -x, -y, -z)[face] <= 0:
        return None
    denom = (x, y, z)[face % 3]
    return ((y, -x, -x, z, z, -y)[face] / denom,
            (z, z, -y, y, -x, -x)[face] / denom)


class Cell:
    """Scalar S2Cell view over a cell id."""

    def __init__(self, cid: int,
                 bound_uv: tuple[float, float, float, float] | None = None):
        self.id = cid
        self.face = cid >> 61
        self.level = ck.sc_level(cid)
        self.u_lo, self.u_hi, self.v_lo, self.v_hi = \
            ck.sc_bound_uv(cid) if bound_uv is None else bound_uv
        self._vertices: np.ndarray | None = None

    def vertices(self) -> np.ndarray:
        if self._vertices is None:
            out = np.empty((4, 3), dtype=np.float64)
            corners = ((self.u_lo, self.v_lo), (self.u_hi, self.v_lo),
                       (self.u_hi, self.v_hi), (self.u_lo, self.v_hi))
            for k, (u, v) in enumerate(corners):
                x, y, z = ck.sc_face_uv_to_xyz(self.face, u, v)
                n = math.sqrt(x * x + y * y + z * z)
                out[k] = (x / n, y / n, z / n)
            self._vertices = out
        return self._vertices

    def center(self) -> np.ndarray:
        return np.array(ck.sc_center_xyz(self.id))

    def contains_point(self, p: np.ndarray) -> bool:
        """Closed-set uv test expanded by eps (S2Cell.kt:528-542)."""
        uv = _face_uv(p, self.face)
        if uv is None:
            return False
        uu, vv = uv
        return (self.u_lo - DBL_EPS <= uu <= self.u_hi + DBL_EPS and
                self.v_lo - DBL_EPS <= vv <= self.v_hi + DBL_EPS)

    def children(self) -> list["Cell"]:
        return [Cell(ck.sc_child(self.id, pos)) for pos in range(4)]

    def rect_bound(self) -> "LatLngRect":
        return _cell_rect_bound(self.level, self.face, self.vertices())


def _cell_rect_bound(level: int, face: int,
                     verts: np.ndarray) -> "LatLngRect":
    """S2Cell.getRectBound from the cell's level, face and vertices."""
    if level == 0:
        # face cells: fixed bounds (S2Cell.getRectBound level-0 cases)
        pole_min_lat = math.asin(math.sqrt(1.0 / 3.0)) - 2 * DBL_EPS
        bounds = {
            0: LatLngRect(-math.pi / 4, math.pi / 4,
                          -math.pi / 4, math.pi / 4),
            1: LatLngRect(-math.pi / 4, math.pi / 4,
                          math.pi / 4, 3 * math.pi / 4),
            2: LatLngRect(pole_min_lat, math.pi / 2,
                          -math.pi, math.pi),
            3: LatLngRect(-math.pi / 4, math.pi / 4,
                          3 * math.pi / 4, -3 * math.pi / 4),
            4: LatLngRect(-math.pi / 4, math.pi / 4,
                          -3 * math.pi / 4, -math.pi / 4),
            5: LatLngRect(-math.pi / 2, -pole_min_lat,
                          -math.pi, math.pi),
        }
        return bounds[face]
    verts = verts.tolist()
    lat = [math.atan2(z, math.hypot(x, y)) for x, y, z in verts]
    lng = [math.atan2(y, x) for x, y, _ in verts]
    # non-face cells never contain poles; vertex extremes + 2eps slack
    lat_lo = min(lat) - 2 * DBL_EPS
    lat_hi = max(lat) + 2 * DBL_EPS
    # longitude: cells at level>=1 span < 180 deg
    i = LngInterval.from_point(lng[0])
    for t in lng[1:]:
        i = i.add_point(t)
    i = i.expanded(2 * DBL_EPS)
    return LatLngRect(max(lat_lo, -math.pi / 2),
                      min(lat_hi, math.pi / 2), i.lo, i.hi)


# the next corner's index, per corner (edge k runs corner k -> k+1)
_NEXT_CORNER = [1, 2, 3, 0]


class Cells:
    """A batch of m cells as arrays, the vectorized `Cell`: ids (uint64),
    faces, levels, and each cell's lower-left (i, j) and Hilbert
    orientation (for `children`).  The uv bounds and the (m, 4, 3) CCW
    vertices come from `cellid.ij_bound_uv` / `uv_cell_vertices` on
    first use; they equal `Cell`'s bit for bit."""

    __slots__ = ("ids", "face", "level", "i", "j", "orient",
                 "_uv", "_vertices", "_views")

    def __init__(self, ids: np.ndarray, face: np.ndarray, level: np.ndarray,
                 i: np.ndarray, j: np.ndarray, orient: np.ndarray):
        self.ids, self.face, self.level = ids, face, level
        self.i, self.j, self.orient = i, j, orient
        self._uv = None
        self._vertices = None
        self._views: list[Cell] | None = None

    @staticmethod
    def from_ids(ids) -> "Cells":
        rows = [ck.sc_to_face_ij_orientation(c) for c in ids]
        level = np.array([ck.sc_level(c) for c in ids], dtype=np.int64)
        face, i, j, orient = (np.array([r[k] for r in rows], dtype=np.int64)
                              for k in range(4))
        size = np.left_shift(1, ck.MAX_LEVEL - level)
        return Cells(np.array(ids, dtype=np.uint64), face, level,
                     i & -size, j & -size, orient)

    def __len__(self) -> int:
        return len(self.ids)

    @property
    def uv(self) -> np.ndarray:
        """(4, m): u_lo, u_hi, v_lo, v_hi (ijLevelToBoundUV)."""
        if self._uv is None:
            self._uv = ck.ij_bound_uv(
                self.i, self.j, np.left_shift(1, ck.MAX_LEVEL - self.level))
        return self._uv

    @property
    def vertices(self) -> np.ndarray:
        if self._vertices is None:
            self._vertices = ck.uv_cell_vertices(self.face, self.uv)
        return self._vertices

    def edge_normals(self) -> np.ndarray:
        """(m, 4, 3): each cell's inward edge normals, edge k running
        from vertex k to k+1 (S2Cell.getEdgeRaw)."""
        t = self.uv[_EDGE_UV_ROW].T[:, :, None]
        return t * _EDGE_COEF[self.face] + _EDGE_OFFSET[self.face]

    def __iter__(self):
        """One-cell `Cell` views, for regions with no batch predicate
        (built once, so a cell's lazily computed vertices are too)."""
        if self._views is None:
            self._views = [
                Cell(c, ck.sc_ij_bound_uv(i, j, 1 << (ck.MAX_LEVEL - lv)))
                for c, lv, i, j in zip(self.ids.tolist(),
                                       self.level.tolist(),
                                       self.i.tolist(), self.j.tolist())]
        return iter(self._views)

    def take(self, sel) -> "Cells":
        """The cells at `sel` (a mask, an index list or a slice)."""
        out = Cells(self.ids[sel], self.face[sel], self.level[sel],
                    self.i[sel], self.j[sel], self.orient[sel])
        if self._uv is not None:
            out._uv = self._uv[:, sel]
        if self._vertices is not None:
            out._vertices = self._vertices[sel]
        if self._views is not None:
            out._views = [self._views[k] for k in
                          np.arange(len(self.ids))[sel].tolist()]
        return out

    def children(self) -> "Cells":
        """All 4m children, each cell's in Hilbert order (S2Cell.subdivide:
        child (i, j) and orientation from kPosToIJ / kPosToOrientation).
        Plain ints: on the coverer's 1-16-cell batches a numpy form costs
        more in per-call overhead than this loop."""
        cids, ci, cj, co = [], [], [], []
        for cid, lv, i, j, o in zip(self.ids.tolist(), self.level.tolist(),
                                    self.i.tolist(), self.j.tolist(),
                                    self.orient.tolist()):
            half = 1 << (ck.MAX_LEVEL - 1 - lv)
            for pos, ij in enumerate(POS_TO_IJ[o]):
                cids.append(ck.sc_child(cid, pos))
                ci.append(i + (ij >> 1) * half)
                cj.append(j + (ij & 1) * half)
                co.append(o ^ POS_TO_ORIENTATION[pos])
        return Cells(np.array(cids, dtype=np.uint64),
                     np.repeat(self.face, 4), np.repeat(self.level + 1, 4),
                     np.array(ci, dtype=np.int64),
                     np.array(cj, dtype=np.int64),
                     np.array(co, dtype=np.int64))

    def rect_bound(self, k: int) -> "LatLngRect":
        return _cell_rect_bound(int(self.level[k]), int(self.face[k]),
                                self.vertices[k])

    def contains_point(self, p: np.ndarray) -> np.ndarray:
        """bool[m]: `Cell.contains_point` of one point in every cell."""
        u_lo, u_hi, v_lo, v_hi = self.uv
        out = np.zeros(len(self.ids), dtype=bool)
        for f, sel in ck.face_groups(self.face):
            uv = _face_uv(p, f)
            if uv is None:
                continue
            uu, vv = uv
            out[sel] = ((u_lo[sel] - DBL_EPS <= uu) &
                        (uu <= u_hi[sel] + DBL_EPS) &
                        (v_lo[sel] - DBL_EPS <= vv) &
                        (vv <= v_hi[sel] + DBL_EPS))
        return out


class PerCellPredicates:
    """Batch predicates as a loop over the region's one-cell
    `may_intersect_cell` / `contains_cell`, for the regions whose test
    has no vectorized form."""

    def may_intersect_cells(self, cells: Cells) -> np.ndarray:
        return np.fromiter((self.may_intersect_cell(c) for c in cells),
                           dtype=bool, count=len(cells))

    def contains_cells(self, cells: Cells) -> np.ndarray:
        return np.fromiter((self.contains_cell(c) for c in cells),
                           dtype=bool, count=len(cells))


# ---------------------------------------------------------------------------
# S1 longitude interval (wrapping)
# ---------------------------------------------------------------------------

class LngInterval:
    """S1Interval semantics (dilivia/s2/S1Interval.kt): [lo, hi] going CCW;
    lo > hi means the interval wraps across +-pi.  Full is [-pi, pi]."""

    def __init__(self, lo: float, hi: float):
        # S1Interval checkFix: -Pi endpoints normalize to Pi except for
        # the canonical empty (Pi, -Pi) and full (-Pi, Pi) intervals.
        # Both tests read the ORIGINAL endpoints (S1Interval.kt:62-76),
        # so the singleton (-Pi, -Pi) maps to (Pi, Pi), not to empty.
        new_lo, new_hi = lo, hi
        if lo == -math.pi and hi != math.pi:
            new_lo = math.pi
        if hi == -math.pi and lo != math.pi:
            new_hi = math.pi
        self.lo = new_lo
        self.hi = new_hi

    @staticmethod
    def empty() -> "LngInterval":
        return LngInterval(math.pi, -math.pi)

    @staticmethod
    def full() -> "LngInterval":
        return LngInterval(-math.pi, math.pi)

    @staticmethod
    def from_point(p: float) -> "LngInterval":
        if p == -math.pi:
            p = math.pi
        return LngInterval(p, p)

    def is_empty(self) -> bool:
        return self.lo == math.pi and self.hi == -math.pi

    def is_full(self) -> bool:
        return self.lo == -math.pi and self.hi == math.pi

    def is_inverted(self) -> bool:
        return self.lo > self.hi

    def length(self) -> float:
        length = self.hi - self.lo
        if length >= 0:
            return length
        length += 2 * math.pi
        return length if length > 0 else -1.0

    def contains(self, p: float) -> bool:
        if p == -math.pi:
            p = math.pi
        if self.is_inverted():
            return (p >= self.lo or p <= self.hi) and not self.is_empty()
        return self.lo <= p <= self.hi

    def contains_interval(self, o: "LngInterval") -> bool:
        if o.is_empty():
            return True
        if self.is_full():
            return True
        if self.is_inverted():
            if o.is_inverted():
                return o.lo >= self.lo and o.hi <= self.hi
            # reference guards with `&& !isEmpty()`: the empty interval
            # (pi, -pi) is inverted and must not contain the point
            # interval at exactly pi (S1Interval.contains semantics)
            return (o.lo >= self.lo or o.hi <= self.hi) and \
                not self.is_empty()
        if o.is_inverted():
            return self.is_full()
        return o.lo >= self.lo and o.hi <= self.hi

    def intersects(self, o: "LngInterval") -> bool:
        if self.is_empty() or o.is_empty():
            return False
        if self.is_inverted():
            return o.is_inverted() or o.lo <= self.hi or o.hi >= self.lo
        if o.is_inverted():
            return o.lo <= self.hi or o.hi >= self.lo
        return o.lo <= self.hi and o.hi >= self.lo

    @staticmethod
    def from_point_pair(p1: float, p2: float) -> "LngInterval":
        """Minimal interval containing both points (length <= pi)."""
        if p1 == -math.pi:
            p1 = math.pi
        if p2 == -math.pi:
            p2 = math.pi
        if _pos_angle(p2 - p1) <= math.pi:
            return LngInterval(p1, p2)
        return LngInterval(p2, p1)

    def union_interval(self, y: "LngInterval") -> "LngInterval":
        """Exact S1Interval union (S1Interval.kt union semantics)."""
        if y.is_empty():
            return self
        if self.is_empty():
            return y
        if self.contains(y.lo):
            if self.contains(y.hi):
                if self.contains_interval(y):
                    return self
                return LngInterval.full()
            return LngInterval(self.lo, y.hi)
        if self.contains(y.hi):
            return LngInterval(y.lo, self.hi)
        if y.contains_interval(self):
            return y
        dlo = _pos_angle(self.lo - y.hi)
        dhi = _pos_angle(y.lo - self.hi)
        if dlo < dhi:
            return LngInterval(y.lo, self.hi)
        return LngInterval(self.lo, y.hi)

    def add_point(self, p: float) -> "LngInterval":
        if p == -math.pi:
            p = math.pi
        if self.is_empty():
            return LngInterval.from_point(p)
        if self.contains(p):
            return self
        # extend on the side with smaller resulting length
        dlo = _pos_angle(self.lo - p)
        dhi = _pos_angle(p - self.hi)
        if dlo < dhi:
            return LngInterval(p, self.hi)
        return LngInterval(self.lo, p)

    def expanded(self, margin: float) -> "LngInterval":
        """S1Interval.expanded (S1Interval.kt:398-413) incl. negative
        margins (shrink, used by the polyline simplifier's avoidDisc)."""
        if margin >= 0:
            if self.is_empty() or margin == 0:
                return self
            if self.length() + 2 * margin + 2 * DBL_EPS >= 2 * math.pi:
                return LngInterval.full()
        else:
            if self.is_full():
                return self
            if self.length() + 2 * margin - 2 * DBL_EPS <= 0:
                return LngInterval.empty()
        lo = _wrap_angle(self.lo - margin)
        hi = _wrap_angle(self.hi + margin)
        if lo <= -math.pi:
            lo = math.pi
        return LngInterval(lo, hi)

    def is_valid(self) -> bool:
        """S1Interval.isValid (S1Interval.kt): endpoints in [-pi, pi] and
        -pi endpoints only in the canonical empty/full forms."""
        return (abs(self.lo) <= math.pi and abs(self.hi) <= math.pi
                and not (self.lo == -math.pi and self.hi != math.pi)
                and not (self.hi == -math.pi and self.lo != math.pi))

    def project(self, p: float) -> float:
        """Closest point of the (non-empty) interval to p
        (S1Interval.kt:377-387)."""
        assert not self.is_empty()
        cp = math.pi if p == -math.pi else p
        if self.fast_contains(cp):
            return cp
        dlo = _positive_distance(cp, self.lo)
        dhi = _positive_distance(self.hi, cp)
        return self.lo if dlo < dhi else self.hi

    def fast_contains(self, p: float) -> bool:
        """S1Interval.fastContains: containment without the ±pi point
        normalization (assumes p in [-pi, pi])."""
        if self.is_inverted():
            return (p >= self.lo or p <= self.hi) and not self.is_empty()
        return self.lo <= p <= self.hi

    def intersection(self, y: "LngInterval") -> "LngInterval":
        """S1Interval.intersection (S1Interval.kt:461-489): the SHORTER
        of the two originals when the intersection would be two disjoint
        arcs."""
        if y.is_empty():
            return LngInterval.empty()
        if self.fast_contains(y.lo):
            if self.fast_contains(y.hi):
                return y if y.length() < self.length() else self
            return LngInterval(y.lo, self.hi)
        if self.fast_contains(y.hi):
            return LngInterval(self.lo, y.hi)
        if y.fast_contains(self.lo):
            return self
        return LngInterval.empty()

    def interior_contains(self, p: float) -> bool:
        """S1Interval.interiorContains(Double) (S1Interval.kt:237-249)."""
        if p == -math.pi:
            p = math.pi
        if self.is_inverted():
            return p > self.lo or p < self.hi
        return (self.lo < p < self.hi) or self.is_full()

    def interior_contains_interval(self, y: "LngInterval") -> bool:
        """S1Interval.interiorContains(S1Interval) (S1Interval.kt:284-294)."""
        if self.is_inverted():
            if not y.is_inverted():
                return y.lo > self.lo or y.hi < self.hi
            return (y.lo > self.lo and y.hi < self.hi) or y.is_empty()
        if y.is_inverted():
            return self.is_full() or y.is_empty()
        return (y.lo > self.lo and y.hi < self.hi) or self.is_full()

    def interior_intersects(self, y: "LngInterval") -> bool:
        """S1Interval.interiorIntersects (S1Interval.kt:324-335)."""
        if self.is_empty() or y.is_empty() or self.lo == self.hi:
            return False
        if self.is_inverted():
            return y.is_inverted() or y.lo < self.hi or y.hi > self.lo
        if y.is_inverted():
            return y.lo < self.hi or y.hi > self.lo
        return (y.lo < self.hi and y.hi > self.lo) or self.is_full()

    def complement(self) -> "LngInterval":
        """S1Interval.complement (S1Interval.kt:198-201): swap endpoints;
        a singleton's complement is full."""
        if self.lo == self.hi:
            return LngInterval.full()
        return LngInterval(self.hi, self.lo)

    def complement_center(self) -> float:
        """S1Interval.complementCenter (S1Interval.kt:207-212)."""
        if self.lo != self.hi:
            return self.complement().center()
        return self.hi + math.pi if self.hi <= 0.0 else self.hi - math.pi

    def center(self) -> float:
        center = 0.5 * (self.lo + self.hi)
        if not self.is_inverted():
            return center
        # Return the center in the range (-Pi, Pi].
        return center + math.pi if center <= 0.0 else center - math.pi

    def approx_equals(self, y: "LngInterval", max_error: float = 1e-15) -> bool:
        """S1Interval.approxEquals (S1Interval.kt:524-534)."""
        if self.is_empty():
            return y.length() <= 2 * max_error
        if y.is_empty():
            return self.length() <= 2 * max_error
        if self.is_full():
            return y.length() >= 2 * (math.pi - max_error)
        if y.is_full():
            return self.length() >= 2 * (math.pi - max_error)
        return (abs(math.remainder(y.lo - self.lo, 2 * math.pi)) <= max_error
                and abs(math.remainder(y.hi - self.hi, 2 * math.pi)) <= max_error
                and abs(self.length() - y.length()) <= 2 * max_error)

    def directed_hausdorff(self, y: "LngInterval") -> float:
        """S1Interval.getDirectedHausdorffDistance (S1Interval.kt:553-570):
        max over p in self of the S1 distance from p to y."""
        if y.contains_interval(self):
            return 0.0  # includes the case where self is empty
        if y.is_empty():
            return math.pi
        y_cc = y.complement_center()
        if self.contains(y_cc):
            return _positive_distance(y.hi, y_cc)
        hi_hi = (_positive_distance(y.hi, self.hi)
                 if LngInterval(y.hi, y_cc).contains(self.hi) else 0.0)
        lo_lo = (_positive_distance(self.lo, y.lo)
                 if LngInterval(y_cc, y.lo).contains(self.lo) else 0.0)
        return max(hi_hi, lo_lo)


def _positive_distance(a: float, b: float) -> float:
    """Distance from a to b going CCW, in [0, 2*Pi) (S1Interval.kt:628-644)."""
    d = b - a
    if d >= 0:
        return d
    return (b + math.pi) - (a - math.pi)


def _pos_angle(a: float) -> float:
    a = math.fmod(a, 2 * math.pi)
    return a + 2 * math.pi if a < 0 else a


def _wrap_angle(a: float) -> float:
    a = math.fmod(a, 2 * math.pi)
    if a > math.pi:
        a -= 2 * math.pi
    if a < -math.pi:
        a += 2 * math.pi
    return a


def _lat_of(p: np.ndarray) -> float:
    return math.atan2(float(p[2]), math.hypot(float(p[0]), float(p[1])))


def _lng_of(p: np.ndarray) -> float:
    return math.atan2(float(p[1]), float(p[0]))


def _latlng_to_xyz(lat: float, lng: float) -> np.ndarray:
    cl = math.cos(lat)
    return np.array([cl * math.cos(lng), cl * math.sin(lng), math.sin(lat)])


def _robust_cross(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """S2PointUtil.robustCrossProd semantics: (b+a)x(b-a) == 2 a x b but
    stays accurate as a -> +-b; falls back to an arbitrary orthogonal."""
    x = np.cross(b + a, b - a)
    if float(x @ x) > 0.0:
        return x
    return pred.ortho(a)


def _point_edge_dist_rad(p: np.ndarray, a: np.ndarray,
                         b: np.ndarray) -> float:
    """Minimum angle (radians) from point p to geodesic edge ab."""
    d2 = dist.point_edge_chord2(p.reshape(1, 3), a.reshape(1, 3),
                                b.reshape(1, 3))[0, 0]
    return float(dist.chord2_to_radians(d2))


# ---------------------------------------------------------------------------
# Regions
# ---------------------------------------------------------------------------

class Cap:
    """Spherical disc: center xyz + squared-chord radius
    (S2Cap.kt:77; dist2 < 0 => empty, dist2 == 4 => full)."""

    def __init__(self, center: np.ndarray, radius2: float):
        self.center = np.asarray(center, dtype=np.float64)
        self.radius2 = radius2

    @staticmethod
    def from_latlng_radius_deg(lat: float, lon: float,
                               radius_deg: float) -> "Cap":
        x, y, z = ck.latlng_deg_to_xyz(np.array([lat]), np.array([lon]))
        r2 = float(dist.radians_to_chord2(math.radians(radius_deg)))
        return Cap(np.array([x[0], y[0], z[0]]), r2)

    @staticmethod
    def from_center_height(center: np.ndarray, height: float) -> "Cap":
        """S2Cap.fromCenterHeight: chord^2 = 2 * height."""
        return Cap(np.asarray(center, dtype=np.float64), 2.0 * height)

    def approx_equals(self, other: "Cap", max_error: float = 1e-14) -> bool:
        """S2Cap.approxEquals semantics: axes within max_error and radius
        angles within max_error, with empty/full degeneracies."""
        r1, r2o = max(self.radius2, 0.0), max(other.radius2, 0.0)
        if self.is_empty():
            return other.radius2 <= max_error
        if other.is_empty():
            return self.radius2 <= max_error
        axis_angle = _angle_between(self.center / np.linalg.norm(self.center),
                                    other.center / np.linalg.norm(other.center))
        return (axis_angle <= max_error and
                abs(float(dist.chord2_to_radians(min(4.0, r1))) -
                    float(dist.chord2_to_radians(min(4.0, r2o)))) <= max_error)

    def is_empty(self) -> bool:
        return self.radius2 < 0

    def is_full(self) -> bool:
        return self.radius2 >= 4.0

    def contains_point(self, p: np.ndarray) -> bool:
        d = self.center - p
        return float(d @ d) <= self.radius2

    def add_point(self, p: np.ndarray) -> "Cap":
        """S2Cap.addPoint (S2Cap.kt:224-235): grow to include p."""
        if self.is_empty():
            return Cap(np.asarray(p, dtype=np.float64), 0.0)
        d = self.center - np.asarray(p, dtype=np.float64)
        return Cap(self.center, max(self.radius2,
                                    min(4.0, float(d @ d))))

    def expanded(self, distance_rad: float) -> "Cap":
        """S2Cap.expanded (S2Cap.kt:262-266): all points within
        `distance_rad` of this cap; the empty cap stays empty."""
        assert distance_rad >= 0.0
        if self.is_empty():
            return Cap(self.center, -1.0)
        r = float(dist.chord2_to_radians(max(0.0, self.radius2)))
        return Cap(self.center,
                   float(dist.radians_to_chord2(r + distance_rad)))

    def radius_angle(self) -> float:
        """Opening angle in radians (S2Cap.kt radius); -1 when empty."""
        if self.is_empty():
            return -1.0
        return float(dist.chord2_to_radians(min(4.0, max(0.0,
                                                         self.radius2))))

    def add_cap(self, other: "Cap") -> "Cap":
        """S2Cap.addCap (S2Cap.kt:243-253): grow the radius about this
        cap's FIXED center until `other` is covered (union() may move
        the center; addCap never does).  The distance is rounded up so
        containment actually holds."""
        if self.is_empty():
            return other
        if other.is_empty():
            return self
        d = self.center - other.center
        need = float(dist.chord2_to_radians(min(4.0, float(d @ d)))) + \
            other.radius_angle()
        need2 = float(dist.radians_to_chord2(min(math.pi, need)))
        need2 = min(4.0, need2 * (1.0 + 4 * DBL_EPS) + 4 * DBL_EPS ** 2)
        return Cap(self.center, max(self.radius2, need2))

    def contains_cap(self, other: "Cap") -> bool:
        """S2Cap.contains(S2Cap) (S2Cap.kt:200-206): every point of
        `other` is inside this cap."""
        if self.is_full() or other.is_empty():
            return True
        d = self.center - other.center
        sep = float(dist.chord2_to_radians(min(4.0, float(d @ d))))
        return self.radius_angle() >= sep + other.radius_angle()

    def union(self, other: "Cap") -> "Cap":
        """S2Cap.union (S2Cap.kt:274-295): smallest cap enclosing both."""
        if self.radius2 < other.radius2:
            return other.union(self)
        if self.is_full() or other.is_empty():
            return self
        this_r = float(dist.chord2_to_radians(max(0.0, self.radius2)))
        other_r = float(dist.chord2_to_radians(max(0.0, other.radius2)))
        d = self.center - other.center
        distance = float(dist.chord2_to_radians(
            min(4.0, float(d @ d))))
        if this_r >= distance + other_r:
            return self
        result_r = 0.5 * (distance + this_r + other_r)
        from . import edges as ek
        result_center = ek.interpolate_at_distance(
            self.center[None, :], other.center[None, :],
            0.5 * (distance - this_r + other_r))[0]
        return Cap(result_center,
                   float(dist.radians_to_chord2(result_r)))

    def rect_bound(self) -> "LatLngRect":
        """S2Cap.rectBound (S2Cap.kt:340-388): lat band +- cap angle;
        lng full when a pole is inside, else +- asin(sin a / cos lat)."""
        if self.is_empty():
            return LatLngRect.empty()
        c = self.center
        center_lat = math.atan2(float(c[2]),
                                math.hypot(float(c[0]), float(c[1])))
        center_lng = math.atan2(float(c[1]), float(c[0]))
        cap_angle = float(dist.chord2_to_radians(max(0.0, self.radius2)))
        all_longitudes = False
        lat_lo = center_lat - cap_angle
        if lat_lo <= -math.pi / 2:
            lat_lo = -math.pi / 2
            all_longitudes = True
        lat_hi = center_lat + cap_angle
        if lat_hi >= math.pi / 2:
            lat_hi = math.pi / 2
            all_longitudes = True
        lng_lo, lng_hi = -math.pi, math.pi
        if not all_longitudes:
            sin_a = math.sin(cap_angle)
            sin_c = math.cos(center_lat)
            if sin_a <= sin_c:
                angle_a = math.asin(sin_a / sin_c)
                lng_lo = math.remainder(center_lng - angle_a, 2 * math.pi)
                lng_hi = math.remainder(center_lng + angle_a, 2 * math.pi)
        return LatLngRect(lat_lo, lat_hi, lng_lo, lng_hi)

    def complement(self) -> "Cap":
        if self.is_full():
            return Cap(-self.center, -1.0)
        if self.is_empty():
            return Cap(-self.center, 4.0)
        return Cap(-self.center, 4.0 - self.radius2)

    def _sin2(self) -> float:
        d2 = self.radius2
        return d2 * (1.0 - 0.25 * d2)

    def _contains_vertices(self, cells: Cells) -> np.ndarray:
        """bool[m, 4]: which cell vertices lie in the cap."""
        d = self.center - cells.vertices
        return (d * d).sum(axis=2) <= self.radius2

    def _intersects_cells(self, cells: Cells) -> np.ndarray:
        """bool[m]: the cap intersects the cell, for the cells with no
        vertex inside the cap (S2Cap.kt:419-466).  A cell's edges are
        tested in order, and the first that decides, decides."""
        m = len(cells)
        if self.radius2 >= 2.0 or self.is_empty():  # >= 90 degrees
            return np.zeros(m, dtype=bool)
        c = self.center
        verts = cells.vertices
        edge = cells.edge_normals()                         # (m, 4, 3)
        dot = (edge * c).sum(axis=2)                        # (m, 4)
        facing = dot <= 0
        # the edge's great circle misses the cap: no intersection
        miss = facing & (dot * dot > self._sin2() * (edge * edge).sum(axis=2))
        # it meets the cap: is the closest point within the edge's arc?
        dir_ = pip.cross_rows(edge.reshape(-1, 3), c).reshape(m, 4, 3)
        hit = facing & ~miss & ((dir_ * verts).sum(axis=2) < 0) & \
            ((dir_ * verts[:, _NEXT_CORNER]).sum(axis=2) > 0)
        first = (miss | hit).argmax(axis=1)
        return cells.contains_point(c) | hit[np.arange(m), first]

    def contains_cells(self, cells: Cells) -> np.ndarray:
        """bool[m]: all four vertices inside, and the complement cap
        does not reach into the cell."""
        return self._contains_vertices(cells).all(axis=1) & \
            ~self.complement()._intersects_cells(cells)

    def may_intersect_cells(self, cells: Cells) -> np.ndarray:
        return self._contains_vertices(cells).any(axis=1) | \
            self._intersects_cells(cells)

    def contains_cell(self, cell: Cell) -> bool:
        return bool(self.contains_cells(Cells.from_ids([cell.id]))[0])

    def may_intersect_cell(self, cell: Cell) -> bool:
        return bool(self.may_intersect_cells(Cells.from_ids([cell.id]))[0])

    def cap_bound(self) -> "Cap":
        return self


class LatLngRect(PerCellPredicates):
    """lat interval x wrapping lng interval, radians."""

    def __init__(self, lat_lo: float, lat_hi: float,
                 lng_lo: float, lng_hi: float):
        self.lat_lo = lat_lo
        self.lat_hi = lat_hi
        self.lng = LngInterval(lng_lo, lng_hi)

    @staticmethod
    def from_degrees(lat_lo, lat_hi, lng_lo, lng_hi) -> "LatLngRect":
        return LatLngRect(math.radians(lat_lo), math.radians(lat_hi),
                          math.radians(lng_lo), math.radians(lng_hi))

    @staticmethod
    def empty() -> "LatLngRect":
        # canonical empty: lat = R1Interval.empty() = (1, 0) (R1Interval.kt)
        r = LatLngRect(1.0, 0.0, 0.0, 0.0)
        r.lng = LngInterval.empty()
        return r

    @staticmethod
    def full() -> "LatLngRect":
        r = LatLngRect(-math.pi / 2, math.pi / 2, 0.0, 0.0)
        r.lng = LngInterval.full()
        return r

    @staticmethod
    def from_point(lat: float, lng: float) -> "LatLngRect":
        """S2LatLngRect.fromPoint (radians)."""
        r = LatLngRect(lat, lat, 0.0, 0.0)
        r.lng = LngInterval.from_point(lng)
        return r

    @staticmethod
    def from_point_pair(lat1: float, lng1: float,
                        lat2: float, lng2: float) -> "LatLngRect":
        """S2LatLngRect.fromPointPair (S2LatLngRect.kt:836-843): minimal
        rect containing both (normalized) lat/lng points."""
        r = LatLngRect(min(lat1, lat2), max(lat1, lat2), 0.0, 0.0)
        r.lng = LngInterval.from_point_pair(lng1, lng2)
        return r

    @staticmethod
    def from_center_size(center_lat: float, center_lng: float,
                         size_lat: float, size_lng: float) -> "LatLngRect":
        """S2LatLngRect.fromCenterSize (S2LatLngRect.kt:810-811)."""
        return LatLngRect.from_point(center_lat, center_lng).expanded(
            0.5 * size_lat, 0.5 * size_lng)

    def is_valid(self) -> bool:
        """S2LatLngRect.isValid (S2LatLngRect.kt:126-127)."""
        return (abs(self.lat_lo) <= math.pi / 2 and
                abs(self.lat_hi) <= math.pi / 2 and
                (self.lat_lo > self.lat_hi) == self.lng.is_empty())

    def is_empty(self) -> bool:
        return self.lat_lo > self.lat_hi or self.lng.is_empty()

    def is_full(self) -> bool:
        return (self.lat_lo == -math.pi / 2 and
                self.lat_hi == math.pi / 2 and self.lng.is_full())

    def is_point(self) -> bool:
        return self.lat_lo == self.lat_hi and self.lng.lo == self.lng.hi

    def center(self) -> tuple[float, float]:
        """(lat, lng) center in lat-lng space."""
        return 0.5 * (self.lat_lo + self.lat_hi), self.lng.center()

    def size(self) -> tuple[float, float]:
        """(lat, lng) dimensions; negative when empty."""
        return self.lat_hi - self.lat_lo, self.lng.length()

    def __eq__(self, other) -> bool:
        if not isinstance(other, LatLngRect):
            return NotImplemented
        lat_eq = ((self.lat_lo == other.lat_lo and
                   self.lat_hi == other.lat_hi) or
                  (self.lat_lo > self.lat_hi and
                   other.lat_lo > other.lat_hi))
        lng_eq = ((self.lng.lo == other.lng.lo and
                   self.lng.hi == other.lng.hi) or
                  (self.lng.is_empty() and other.lng.is_empty()))
        return lat_eq and lng_eq

    def __hash__(self):
        return hash((self.lat_lo, self.lat_hi, self.lng.lo, self.lng.hi))

    def approx_equals(self, o: "LatLngRect",
                      max_error_lat: float = 1e-15,
                      max_error_lng: float | None = None) -> bool:
        """S2LatLngRect.approxEquals (S2LatLngRect.kt:682-688); per-axis
        tolerances (R1Interval/S1Interval approxEquals semantics)."""
        if max_error_lng is None:
            max_error_lng = max_error_lat
        lat_len = self.lat_hi - self.lat_lo
        o_lat_len = o.lat_hi - o.lat_lo
        if self.lat_lo > self.lat_hi:
            lat_ok = o_lat_len <= 2 * max_error_lat
        elif o.lat_lo > o.lat_hi:
            lat_ok = lat_len <= 2 * max_error_lat
        else:
            lat_ok = (abs(o.lat_lo - self.lat_lo) <= max_error_lat and
                      abs(o.lat_hi - self.lat_hi) <= max_error_lat)
        return lat_ok and self.lng.approx_equals(o.lng, max_error_lng)

    def contains_latlng(self, lat: float, lng: float) -> bool:
        return (self.lat_lo <= lat <= self.lat_hi and
                self.lng.contains(lng))

    def contains_point(self, p: np.ndarray) -> bool:
        lat = math.atan2(float(p[2]),
                         math.sqrt(float(p[0]) ** 2 + float(p[1]) ** 2))
        lng = math.atan2(float(p[1]), float(p[0]))
        return self.contains_latlng(lat, lng)

    def contains_rect(self, o: "LatLngRect") -> bool:
        if o.is_empty():
            return True
        return (self.lat_lo <= o.lat_lo and self.lat_hi >= o.lat_hi and
                self.lng.contains_interval(o.lng))

    def intersects_rect(self, o: "LatLngRect") -> bool:
        if self.is_empty() or o.is_empty():
            return False
        return (self.lat_lo <= o.lat_hi and o.lat_lo <= self.lat_hi and
                self.lng.intersects(o.lng))

    def interior_contains_latlng(self, lat: float, lng: float) -> bool:
        """S2LatLngRect.interiorContains(S2LatLng) (S2LatLngRect.kt:272-275)."""
        return (self.lat_lo < lat < self.lat_hi and
                self.lng.interior_contains(lng))

    def interior_contains_rect(self, o: "LatLngRect") -> bool:
        """S2LatLngRect.interiorContains(S2LatLngRect)
        (S2LatLngRect.kt:288-290); R1Interval.interiorContains treats the
        empty operand as contained."""
        lat_ok = (o.lat_lo > o.lat_hi or
                  (o.lat_lo > self.lat_lo and o.lat_hi < self.lat_hi))
        return lat_ok and self.lng.interior_contains_interval(o.lng)

    def interior_intersects(self, o: "LatLngRect") -> bool:
        """S2LatLngRect.interiorIntersects (S2LatLngRect.kt:302-304)."""
        lat_ok = (o.lat_lo < self.lat_hi and self.lat_lo < o.lat_hi and
                  self.lat_lo < self.lat_hi and o.lat_lo <= o.lat_hi)
        return lat_ok and self.lng.interior_intersects(o.lng)

    def union(self, o: "LatLngRect") -> "LatLngRect":
        if self.is_empty():
            return o
        if o.is_empty():
            return self
        r = LatLngRect(min(self.lat_lo, o.lat_lo),
                       max(self.lat_hi, o.lat_hi), 0, 0)
        r.lng = self.lng.union_interval(o.lng)
        return r

    def intersection(self, o: "LatLngRect") -> "LatLngRect":
        """S2LatLngRect.intersection (S2LatLngRect.kt:390-397): per-axis
        interval intersection; canonical empty when either axis empties."""
        lat_lo = max(self.lat_lo, o.lat_lo)
        lat_hi = min(self.lat_hi, o.lat_hi)
        lng = self.lng.intersection(o.lng)
        if lat_lo > lat_hi or lng.is_empty():
            return LatLngRect.empty()
        r = LatLngRect(lat_lo, lat_hi, 0, 0)
        r.lng = lng
        return r

    def add_point(self, lat: float, lng: float) -> "LatLngRect":
        """S2LatLngRect.addPoint (S2LatLngRect.kt:329-334)."""
        if self.is_empty():
            return LatLngRect.from_point(lat, lng)
        r = LatLngRect(min(self.lat_lo, lat), max(self.lat_hi, lat), 0, 0)
        r.lng = self.lng.add_point(lng)
        return r

    def add_point_xyz(self, p: np.ndarray) -> "LatLngRect":
        return self.add_point(_lat_of(p), _lng_of(p))

    def expanded(self, margin_lat: float, margin_lng: float) -> "LatLngRect":
        """S2LatLngRect.expanded (S2LatLngRect.kt:358-364): grow (or with
        negative margins shrink) each axis in lat-lng space; latitudes are
        clamped to [-Pi/2, Pi/2] and the result may be empty."""
        if self.lat_lo > self.lat_hi:
            lat_lo, lat_hi = self.lat_lo, self.lat_hi  # empty stays empty
        else:
            lat_lo = self.lat_lo - margin_lat
            lat_hi = self.lat_hi + margin_lat
        lng = self.lng.expanded(margin_lng)
        if lat_lo > lat_hi or lng.is_empty():
            return LatLngRect.empty()
        r = LatLngRect(max(lat_lo, -math.pi / 2),
                       min(lat_hi, math.pi / 2), 0, 0)
        r.lng = lng
        return r

    def polar_closure(self) -> "LatLngRect":
        """S2LatLngRect.polarClosure (S2LatLngRect.kt:369-374)."""
        if self.lat_lo == -math.pi / 2 or self.lat_hi == math.pi / 2:
            r = LatLngRect(self.lat_lo, self.lat_hi, 0, 0)
            r.lng = LngInterval.full()
            return r
        return self

    def get_vertex(self, k: int) -> tuple[float, float]:
        """(lat, lng) of vertex k CCW from lower-left."""
        lat = self.lat_lo if k in (0, 1) else self.lat_hi
        lng = self.lng.lo if k in (0, 3) else self.lng.hi
        return lat, lng

    def expanded_by_distance(self, distance_rad: float) -> "LatLngRect":
        """S2LatLngRect.expandedByDistance (S2LatLngRect.kt:435-479).
        Positive: union of the rect with the rect bounds of caps centered
        on each vertex.  Negative: shrink the latitude band (except at a
        boundaryless pole) and shrink the longitude interval by the
        widest margin the cap occupies at the extreme latitude."""
        if distance_rad >= 0.0:
            r2 = float(dist.radians_to_chord2(distance_rad))
            out = self
            for k in range(4):
                lat, lng = self.get_vertex(k)
                cap = Cap(_latlng_to_xyz(lat, lng), r2)
                out = out.union(cap.rect_bound())
            return out
        # Negative distance: no boundary at a pole covered with full lng.
        half_pi = math.pi / 2
        lat_lo = (-half_pi if self.lat_lo <= -half_pi and self.lng.is_full()
                  else self.lat_lo - distance_rad)
        lat_hi = (half_pi if self.lat_hi >= half_pi and self.lng.is_full()
                  else self.lat_hi + distance_rad)
        if lat_lo > lat_hi:
            return LatLngRect.empty()
        max_abs_lat = max(-lat_lo, lat_hi)
        # Law of sines for the widest longitude margin the shrink cap
        # occupies (see S2Cap.getRectBound).
        sin_a = math.sin(-distance_rad)
        sin_c = math.cos(max_abs_lat)
        max_lng_margin = (math.asin(sin_a / sin_c) if sin_a < sin_c
                          else half_pi)
        lng = self.lng.expanded(-max_lng_margin)
        if lng.is_empty():
            return LatLngRect.empty()
        r = LatLngRect(lat_lo, lat_hi, 0, 0)
        r.lng = lng
        return r

    def get_distance_latlng(self, lat: float, lng: float) -> float:
        """S2LatLngRect.getDistance(S2LatLng) (S2LatLngRect.kt:620-637):
        radians from the point to the rect (0 when inside).  The nearer
        meridian edge is selected by testing which half of the lng
        complement the point falls in."""
        assert not self.is_empty()
        if self.lng.contains(lng):
            # directly north/south of the lat band
            return max(0.0, max(self.lat_lo - lat, lat - self.lat_hi))
        a_lng = self.lng.lo
        if LngInterval(self.lng.hi, self.lng.complement_center()).contains(lng):
            a_lng = self.lng.hi
        p = _latlng_to_xyz(lat, lng)
        lo = _latlng_to_xyz(self.lat_lo, a_lng)
        hi = _latlng_to_xyz(self.lat_hi, a_lng)
        return _point_edge_dist_rad(p, lo, hi)

    def get_distance_rect(self, other: "LatLngRect") -> float:
        """S2LatLngRect.getDistance(S2LatLngRect) (S2LatLngRect.kt:552-613):
        minimum angle between the two (non-empty) rects."""
        assert not self.is_empty() and not other.is_empty()
        a, b = self, other
        if a.lng.intersects(b.lng):
            if a.lat_lo <= b.lat_hi and b.lat_lo <= a.lat_hi:
                return 0.0
            # shortest path runs along a shared meridian
            if a.lat_lo > b.lat_hi:
                return a.lat_lo - b.lat_hi
            return b.lat_lo - a.lat_hi
        # closest points lie on the nearer pair of meridian edges
        lo_hi = LngInterval.from_point_pair(a.lng.lo, b.lng.hi)
        hi_lo = LngInterval.from_point_pair(a.lng.hi, b.lng.lo)
        if lo_hi.length() < hi_lo.length():
            a_lng, b_lng = a.lng.lo, b.lng.hi
        else:
            a_lng, b_lng = a.lng.hi, b.lng.lo
        a_lo = _latlng_to_xyz(a.lat_lo, a_lng)
        a_hi = _latlng_to_xyz(a.lat_hi, a_lng)
        b_lo = _latlng_to_xyz(b.lat_lo, b_lng)
        b_hi = _latlng_to_xyz(b.lat_hi, b_lng)
        return min(_point_edge_dist_rad(a_lo, b_lo, b_hi),
                   _point_edge_dist_rad(a_hi, b_lo, b_hi),
                   _point_edge_dist_rad(b_lo, a_lo, a_hi),
                   _point_edge_dist_rad(b_hi, a_lo, a_hi))

    def area(self) -> float:
        """S2LatLngRect.area (S2LatLngRect.kt:178-183): lng span times the
        height difference of the two spherical caps."""
        if self.is_empty():
            return 0.0
        return self.lng.length() * (math.sin(self.lat_hi) -
                                    math.sin(self.lat_lo))

    def centroid(self) -> np.ndarray:
        """S2LatLngRect.centroid (S2LatLngRect.kt:197-248): true centroid
        scaled by the rect's area (additive across disjoint regions)."""
        if self.is_empty():
            return np.zeros(3)
        z1, z2 = math.sin(self.lat_lo), math.sin(self.lat_hi)
        r1, r2 = math.cos(self.lat_lo), math.cos(self.lat_hi)
        alpha = 0.5 * self.lng.length()
        r = math.sin(alpha) * (r2 * z2 - r1 * z1 +
                               (self.lat_hi - self.lat_lo))
        lng = self.lng.center()
        z = alpha * (z2 + z1) * (z2 - z1)  # scaled by the area
        return np.array([r * math.cos(lng), r * math.sin(lng), z])

    def boundary_intersects(self, v0: np.ndarray, v1: np.ndarray) -> bool:
        """S2LatLngRect.boundaryIntersects (S2LatLngRect.kt:308-321):
        true if geodesic edge v0->v1 crosses any non-degenerate side."""
        if self.is_empty():
            return False
        if not self.lng.is_full():
            if _intersects_lng_edge(v0, v1, self.lat_lo, self.lat_hi,
                                    self.lng.lo):
                return True
            if _intersects_lng_edge(v0, v1, self.lat_lo, self.lat_hi,
                                    self.lng.hi):
                return True
        if self.lat_lo != -math.pi / 2 and _intersects_lat_edge(
                v0, v1, self.lat_lo, self.lng):
            return True
        if self.lat_hi != math.pi / 2 and _intersects_lat_edge(
                v0, v1, self.lat_hi, self.lng):
            return True
        return False

    def intersects_cell(self, cell: "Cell") -> bool:
        """Exact rect/cell intersection (S2LatLngRect.kt:486-545)."""
        if self.is_empty():
            return False
        if self.contains_point(cell.center()):
            return True
        c_lat, c_lng = self.center()
        if cell.contains_point(_latlng_to_xyz(c_lat, c_lng)):
            return True
        if not self.intersects_rect(cell.rect_bound()):
            return False
        # Boundary-vs-boundary: cell vertices inside the rect, then each
        # cell edge against the rect's meridian and latitude sides.
        verts = cell.vertices()
        lls = [(_lat_of(v), _lng_of(v)) for v in verts]
        for lat, lng in lls:
            if self.contains_latlng(lat, lng):
                return True
        for i in range(4):
            a, b = verts[i], verts[(i + 1) & 3]
            edge_lng = LngInterval.from_point_pair(lls[i][1],
                                                   lls[(i + 1) & 3][1])
            if not self.lng.intersects(edge_lng):
                continue
            if edge_lng.contains(self.lng.lo) and _intersects_lng_edge(
                    a, b, self.lat_lo, self.lat_hi, self.lng.lo):
                return True
            if edge_lng.contains(self.lng.hi) and _intersects_lng_edge(
                    a, b, self.lat_lo, self.lat_hi, self.lng.hi):
                return True
            if _intersects_lat_edge(a, b, self.lat_lo, self.lng):
                return True
            if _intersects_lat_edge(a, b, self.lat_hi, self.lng):
                return True
        return False

    def get_directed_hausdorff_distance(self, other: "LatLngRect") -> float:
        """S2LatLngRect.getDirectedHausdorffDistance
        (S2LatLngRect.kt:649-660): h(A,B) = max_{p in A} min_{q in B}."""
        if self.is_empty():
            return 0.0
        if other.is_empty():
            return math.pi
        lng_distance = self.lng.directed_hausdorff(other.lng)
        assert lng_distance >= 0
        return _directed_hausdorff_lat(lng_distance,
                                       (self.lat_lo, self.lat_hi),
                                       (other.lat_lo, other.lat_hi))

    def contains_cell(self, cell: Cell) -> bool:
        return self.contains_rect(cell.rect_bound())

    def may_intersect_cell(self, cell: Cell) -> bool:
        # conservative: rect-bound intersection (slightly loose coverings
        # are still correct; the exact verify step rejects outsiders)
        return self.intersects_rect(cell.rect_bound())

    def cap_bound(self) -> Cap:
        """S2LatLngRect.getCapBound port (poleward cap vs mid cap)."""
        if self.is_empty():
            return Cap(np.array([1.0, 0.0, 0.0]), -1.0)
        if self.lat_lo + self.lat_hi < 0:
            pole_z, pole_angle = -1.0, math.pi / 2 + self.lat_hi
        else:
            pole_z, pole_angle = 1.0, math.pi / 2 - self.lat_lo
        pole_cap = Cap(np.array([0.0, 0.0, pole_z]),
                       float(dist.radians_to_chord2(pole_angle)))
        # Mid cap only when the rect spans < 180 deg of longitude
        # (S2LatLngRect.kt:753-754); beyond that the vertices no longer
        # bound the far side of the rect.
        lng_span = self.lng.hi - self.lng.lo
        if math.remainder(lng_span, 2 * math.pi) >= 0 and \
                lng_span < math.pi:
            mid_lat, mid_lng = self.center()
            center = _latlng_to_xyz(mid_lat, mid_lng)
            r2 = 0.0
            for la in (self.lat_lo, self.lat_hi):
                for ln in (self.lng.lo, self.lng.hi):
                    cx, cy, cz = ck.latlng_deg_to_xyz(
                        np.array([math.degrees(la)]),
                        np.array([math.degrees(ln)]))
                    d = center - np.array([cx[0], cy[0], cz[0]])
                    r2 = max(r2, float(d @ d))
            mid_cap = Cap(center, r2 * (1 + 1e-14))
            if mid_cap.radius2 < pole_cap.radius2:
                return mid_cap
        return pole_cap


def _angle_between(a: np.ndarray, b: np.ndarray) -> float:
    """Angle in radians between two (unit) vectors, stable near 0/pi."""
    c = np.cross(a, b)
    return math.atan2(math.sqrt(float(c @ c)), float(a @ b))


def _intersects_lng_edge(a: np.ndarray, b: np.ndarray, lat_lo: float,
                         lat_hi: float, lng: float) -> bool:
    """S2LatLngRect.intersectsLngEdge (S2LatLngRect.kt:907-919): edge AB
    vs the meridian segment [lat_lo, lat_hi] at longitude lng — meridians
    are geodesics, so this is a plain crossing test."""
    return pred.crossing_sign(a, b, _latlng_to_xyz(lat_lo, lng),
                              _latlng_to_xyz(lat_hi, lng)) > 0


def _intersects_lat_edge(a: np.ndarray, b: np.ndarray, lat: float,
                         lng: "LngInterval") -> bool:
    """S2LatLngRect.intersectsLatEdge (S2LatLngRect.kt:924-980): edge AB
    vs the curve of constant latitude restricted to the lng interval.
    The great circle through AB meets the latitude circle at angles
    +-theta from the frame direction of maximum latitude."""
    z = _robust_cross(a, b)
    z = z / np.linalg.norm(z)
    if z[2] < 0:
        z = -z
    # Orthonormal frame (x, y, z): x points at the great circle's
    # maximum-latitude point.
    y = _robust_cross(z, np.array([0.0, 0.0, 1.0]))
    y = y / np.linalg.norm(y)
    x = np.cross(y, z)
    sin_lat = math.sin(lat)
    if abs(sin_lat) >= x[2]:
        return False  # great circle does not reach this latitude
    cos_theta = sin_lat / x[2]
    sin_theta = math.sqrt(1 - cos_theta * cos_theta)
    theta = math.atan2(sin_theta, cos_theta)
    ab_theta = LngInterval.from_point_pair(
        math.atan2(float(a @ y), float(a @ x)),
        math.atan2(float(b @ y), float(b @ x)))
    if ab_theta.contains(theta):
        isect = x * cos_theta + y * sin_theta
        if lng.contains(math.atan2(float(isect[1]), float(isect[0]))):
            return True
    if ab_theta.contains(-theta):
        isect = x * cos_theta - y * sin_theta
        if lng.contains(math.atan2(float(isect[1]), float(isect[0]))):
            return True
    return False


def _directed_hausdorff_lat(lng_diff: float, a: tuple, b: tuple) -> float:
    """S2LatLngRect helper (S2LatLngRect.kt:987-1061): directed Hausdorff
    distance from the meridian edge with latitude range `a` at lng 0 to
    the meridian edge with latitude range `b` at lng `lng_diff`."""
    assert 0.0 <= lng_diff <= math.pi
    a_lo_lat, a_hi_lat = a
    b_lo_lat, b_hi_lat = b
    if lng_diff == 0.0:
        # R1Interval.directedHausdorffDistance (R1Interval.kt:193-197)
        if a_lo_lat > a_hi_lat:
            return 0.0
        if b_lo_lat > b_hi_lat:
            return math.pi
        return max(0.0, a_hi_lat - b_hi_lat, b_lo_lat - a_lo_lat)
    b_lng = lng_diff
    b_lo = _latlng_to_xyz(b_lo_lat, b_lng)
    b_hi = _latlng_to_xyz(b_hi_lat, b_lng)
    a_lo = _latlng_to_xyz(a_lo_lat, 0.0)
    a_hi = _latlng_to_xyz(a_hi_lat, 0.0)
    max_distance = max(_point_edge_dist_rad(a_lo, b_lo, b_hi),
                       _point_edge_dist_rad(a_hi, b_lo, b_hi))
    if lng_diff <= math.pi / 2:
        # Case A2: both edges cross the equator.
        if a_lo_lat <= 0.0 <= a_hi_lat and b_lo_lat <= 0.0 <= b_hi_lat:
            max_distance = max(max_distance, lng_diff)
    else:
        # Case B2: intersection of edge a with the bisector of b.
        p = _bisector_intersection((b_lo_lat, b_hi_lat), b_lng)
        p_lat = _lat_of(p)
        if a_lo_lat <= p_lat <= a_hi_lat:
            max_distance = max(max_distance, _angle_between(p, b_lo))
        # Case B3: interior maxima of the split halves of edge a.
        if p_lat > a_lo_lat:
            max_distance = max(max_distance, _interior_max_distance(
                (a_lo_lat, min(p_lat, a_hi_lat)), b_lo))
        if p_lat < a_hi_lat:
            max_distance = max(max_distance, _interior_max_distance(
                (max(p_lat, a_lo_lat), a_hi_lat), b_hi))
    return max_distance


def _bisector_intersection(lat: tuple, lng: float) -> np.ndarray:
    """S2LatLngRect.getBisectorIntersection (S2LatLngRect.kt:1066-1078)."""
    lng_abs = abs(lng)
    lat_center = 0.5 * (lat[0] + lat[1])
    if lat_center >= 0:
        ortho_bisector = _latlng_to_xyz(lat_center - math.pi / 2, lng_abs)
    else:
        ortho_bisector = _latlng_to_xyz(-lat_center - math.pi / 2,
                                        lng_abs - math.pi)
    ortho_lng = np.array([0.0, -1.0, 0.0])
    return _robust_cross(ortho_lng, ortho_bisector)


def _interior_max_distance(a_lat: tuple, b: np.ndarray) -> float:
    """S2LatLngRect.getInteriorMaxDistance (S2LatLngRect.kt:1084-1098):
    max distance from b to the meridian segment a_lat at lng 0, when the
    max occurs strictly inside the segment; -1 otherwise."""
    if a_lat[0] > a_lat[1] or b[0] >= 0:
        return -1.0
    intersection_point = np.array([-float(b[0]), 0.0, -float(b[2])])
    intersection_point /= np.linalg.norm(intersection_point)
    if a_lat[0] < _lat_of(intersection_point) < a_lat[1]:
        return _angle_between(b, intersection_point)
    return -1.0


def edge_lat_lng_bound(a: np.ndarray,
                       b: np.ndarray) -> tuple:
    """(lat_lo, lat_hi, LngInterval) bound of geodesic edge AB — the
    S2LatLngRectBounder per-edge step (S2LatLngRectBounder.kt addPoint/
    addLatLng): vertex extremes, shorter-arc longitude pair, plus the
    edge-interior latitude extreme of the great circle (asin(|N_xy|/|N|)
    at +-(-Nx*Nz, -Ny*Nz, Nxy^2)) when that point lies within the arc.
    Returned WITHOUT the 4-eps conservative expansion (the loop bound
    adds it once over all edges)."""
    lat_a = math.atan2(float(a[2]),
                       math.hypot(float(a[0]), float(a[1])))
    lat_b = math.atan2(float(b[2]),
                       math.hypot(float(b[0]), float(b[1])))
    lat_lo, lat_hi = min(lat_a, lat_b), max(lat_a, lat_b)
    li = LngInterval.from_point_pair(
        math.atan2(float(a[1]), float(a[0])),
        math.atan2(float(b[1]), float(b[0])))
    nrm = np.cross(a, b)
    n2 = float(nrm @ nrm)
    nxy = math.hypot(float(nrm[0]), float(nrm[1]))
    if n2 > 0.0 and nxy > 0.0:
        # atan2(|N_xy|, |N_z|) is well-conditioned at BOTH extremes;
        # asin(|N_xy|/|N|) cannot resolve latitudes within ~1e-8 of the
        # pole (caught by the ported rectBounderMaxLatitudeRandom sweep)
        max_lat = math.atan2(nxy, abs(float(nrm[2])))
        p_ext = np.array([-nrm[0] * nrm[2], -nrm[1] * nrm[2],
                          nxy * nxy])
        p_ext /= np.linalg.norm(p_ext)
        for cand, lat_cand in ((p_ext, max_lat), (-p_ext, -max_lat)):
            if float(np.cross(a, cand) @ nrm) >= 0 and \
                    float(np.cross(cand, b) @ nrm) >= 0:
                lat_lo = min(lat_lo, lat_cand)
                lat_hi = max(lat_hi, lat_cand)
    # nxy == 0 with n2 > 0 means the great circle IS the equator
    # (normal = +-z): the edge's latitude extremes are its vertices,
    # already covered.  (A former elif here tried to handle "meridian
    # through a pole", but such edges have nrm[2] == 0 with nxy > 0 and
    # are handled by the main branch; the elif actually matched
    # equatorial edges, whose degenerate containment test 0 >= 0 always
    # passed and stretched every equator edge's bound to both poles —
    # ADVICE r5.)
    return lat_lo, lat_hi, li


class Loop:
    """Single ring, CCW interior-left (S2Loop semantics)."""

    def __init__(self, vertices: np.ndarray):
        self.vertices = np.asarray(vertices, dtype=np.float64)
        self.origin_inside = pip.compute_origin_inside(self.vertices)
        self._bound: LatLngRect | None = None

    @staticmethod
    def from_latlng_text(text: str) -> "Loop":
        pts = []
        for tok in text.split(","):
            lat, lng = tok.strip().split(":")
            x, y, z = ck.latlng_deg_to_xyz(np.array([float(lat)]),
                                           np.array([float(lng)]))
            pts.append([x[0], y[0], z[0]])
        return Loop(np.array(pts, dtype=np.float64))

    def is_empty_or_full(self) -> bool:
        """Canonical sentinel loops are exactly ONE vertex
        (S2Loop.isEmptyOrFull is `numVertices == 1`); origin_inside
        distinguishes empty from full.  A 2-vertex loop is malformed
        input, not a sentinel — classifying it here would make the
        "empty" loop contained by everything (ADVICE r4)."""
        return len(self.vertices) == 1

    def is_full(self) -> bool:
        return self.is_empty_or_full() and bool(self.origin_inside)

    def is_empty(self) -> bool:
        return self.is_empty_or_full() and not self.origin_inside

    def contains_point(self, p: np.ndarray) -> bool:
        return bool(pip.loop_contains_points(
            self.vertices, np.asarray(p)[None, :], self.origin_inside)[0])

    def contains_points(self, pts: np.ndarray) -> np.ndarray:
        return pip.loop_contains_points(self.vertices, pts,
                                        self.origin_inside)

    def rect_bound(self) -> LatLngRect:
        """Conservative bound: per-edge lat/lng extremes + pole checks
        (S2Loop.initBound, S2Loop.kt:925-966)."""
        if self._bound is not None:
            return self._bound
        n = len(self.vertices)
        if n < 3:
            if self.origin_inside:  # full loop
                b = LatLngRect(-math.pi / 2, math.pi / 2, -math.pi, math.pi)
            else:
                b = LatLngRect.empty()
            self._bound = b
            return b
        v = self.vertices
        lat_lo, lat_hi = math.pi, -math.pi
        li = LngInterval.empty()
        for i in range(n):
            elo, ehi, eli = edge_lat_lng_bound(v[i], v[(i + 1) % n])
            lat_lo = min(lat_lo, elo)
            lat_hi = max(lat_hi, ehi)
            li = li.union_interval(eli)
        lat_lo -= 4 * DBL_EPS
        lat_hi += 4 * DBL_EPS
        li = li.expanded(4 * DBL_EPS)
        b = LatLngRect(max(lat_lo, -math.pi / 2),
                       min(lat_hi, math.pi / 2), li.lo, li.hi)
        # pole handling (S2Loop.kt:946-966)
        if self.contains_point(np.array([0.0, 0.0, 1.0])):
            b = LatLngRect(b.lat_lo, math.pi / 2, -math.pi, math.pi)
        if b.lng.is_full() and \
                self.contains_point(np.array([0.0, 0.0, -1.0])):
            b.lat_lo = -math.pi / 2
        self._bound = b
        return b

    def _boundary_crosses_cells(self, verts: np.ndarray) -> np.ndarray:
        """bool[m]: some loop edge may cross some edge of each cell
        (verts: (m, 4, 3)) — one triage over all (loop edge x 4m cell
        edge) pairs; uncertain pairs (including shared vertices) count as
        crossing, which is the conservative direction for both
        contains_cells (false negatives only cost covering tightness)
        and may_intersect_cells."""
        m = len(verts)
        a = self.vertices
        b = pip.next_rows(a)
        c = verts.reshape(-1, 3)
        d = verts[:, _NEXT_CORNER].reshape(-1, 3)
        n_ab = pip.cross_rows(a, b)              # (n,3)
        n_cd = pip.cross_rows(c, d)              # (4m,3)
        t = pred.triage_sign_dets
        acb = -t(n_ab @ c.T)                     # (n,4m) -sign(a,b,c)
        bda = t(n_ab @ d.T)                      # sign(a,b,d)
        cbd = -t(b @ n_cd.T)                     # -sign(c,d,b)
        dac = t(a @ n_cd.T)                      # sign(c,d,a)
        crossing = (bda == acb) & (cbd == acb) & (dac == acb) & (acb != 0)
        uncertain = (acb == 0) | (bda == 0) | (cbd == 0) | (dac == 0)
        return (crossing | uncertain).reshape(len(a), m, 4).any(axis=(0, 2))

    def contains_cells(self, cells: "Cells") -> np.ndarray:
        """bool[m]: every cell vertex inside, no boundary crossing, the
        loop not inside the cell, and the loop's rect bound meets the
        cell's.  The rect test (the first in S2Loop.contains(S2Cell))
        can only turn a yes into a no, so it runs on the yeses alone."""
        m = len(cells)
        ok = self.contains_points(cells.vertices.reshape(-1, 3)) \
            .reshape(m, 4).all(axis=1)
        ok &= ~cells.contains_point(self.vertices[0])
        if ok.any():
            ok[ok] = ~self._boundary_crosses_cells(cells.vertices[ok])
        bound = self.rect_bound()
        for k in np.flatnonzero(ok).tolist():
            rect = cells.rect_bound(k)
            if not bound.contains_rect(rect) and \
                    not bound.intersects_rect(rect):
                ok[k] = False
        return ok

    def may_intersect_cells(self, cells: "Cells") -> np.ndarray:
        """bool[m]: a cell vertex inside, the loop's first vertex in the
        cell, or a boundary crossing — and the rect bounds meet, tested
        on the yeses alone."""
        m = len(cells)
        hit = self.contains_points(cells.vertices.reshape(-1, 3)) \
            .reshape(m, 4).any(axis=1)
        hit |= cells.contains_point(self.vertices[0])
        rest = ~hit
        if rest.any():
            hit[rest] = self._boundary_crosses_cells(cells.vertices[rest])
        bound = self.rect_bound()
        for k in np.flatnonzero(hit).tolist():
            if not bound.intersects_rect(cells.rect_bound(k)):
                hit[k] = False
        return hit

    def contains_cell(self, cell: Cell) -> bool:
        return bool(self.contains_cells(Cells.from_ids([cell.id]))[0])

    def may_intersect_cell(self, cell: Cell) -> bool:
        return bool(self.may_intersect_cells(Cells.from_ids([cell.id]))[0])

    def cap_bound(self) -> Cap:
        return self.rect_bound().cap_bound()


class CellRegion(PerCellPredicates):
    """A single cell as an S2Region (S2Cell.kt:510-542)."""

    def __init__(self, cid: int):
        self.cell = Cell(cid)
        self.id = cid

    def contains_cell(self, other: Cell) -> bool:
        return ck.sc_range_min(self.id) <= other.id <= ck.sc_range_max(self.id)

    def may_intersect_cell(self, other: Cell) -> bool:
        return (ck.sc_range_min(other.id) <= ck.sc_range_max(self.id) and
                ck.sc_range_max(other.id) >= ck.sc_range_min(self.id))

    def contains_point(self, p: np.ndarray) -> bool:
        return self.cell.contains_point(p)

    def cap_bound(self) -> Cap:
        center = self.cell.center()
        r2 = 0.0
        for v in self.cell.vertices():
            d = center - v
            r2 = max(r2, float(d @ d))
        return Cap(center, r2 * (1 + 4 * DBL_EPS))


class Polygon:
    """Multi-loop polygon; containment = xor over loops
    (S2Polygon.kt:1357-1376).

    Loops are NORMALIZED + RE-ORIENTED on construction following the
    reference's initOriented (S2Polygon.kt:279-343):

    1. remember which input loops contain the fixed S2 origin;
    2. invert any loop whose curvature is negative (near-zero curvature:
       invert iff it contains the origin), so every stored loop encloses
       at most half the sphere (S2Polygon.kt:83-84);
    3. if the normalized xor region's origin-containment disagrees with
       the origin-containment the caller's loop set implied (step 5 of
       initOriented, S2Polygon.kt:340-342), the whole polygon is
       complemented via the ``inverted`` parity bit — so a single shell
       that legitimately encloses MORE than half the sphere round-trips
       instead of being silently replaced by its complement.
    """

    def __init__(self, loops: list[Loop]):
        from . import measures
        contained_origin: list[bool] = []
        normed = []
        for lp in loops:
            contained_origin.append(bool(lp.origin_inside))
            n = len(lp.vertices)
            if n >= 3:
                angle = measures.loop_curvature(lp.vertices)
                max_err = 9.73 * DBL_EPS * n  # S2LoopMeasures.kt:303,324
                if abs(angle) > max_err:
                    invert = angle < 0
                else:
                    invert = bool(lp.origin_inside)
            else:
                invert = False
            normed.append(Loop(lp.vertices[::-1].copy()) if invert else lp)
        self.loops = normed
        # initOriented steps 4-5: originLoop = deepest loop containing
        # the origin, else a TOP-LEVEL SHELL (the reference's loop(0) —
        # initNested orders loops parents-first, so its loop(0) is a
        # depth-0 shell; our loops keep caller order, so select by
        # depth); polygon xor-parity at the origin vs what the caller's
        # orientation of that loop implied.
        self.inverted = False
        if normed:
            polygon_contains_origin = False
            candidates = []
            for i, lp in enumerate(normed):
                if lp.origin_inside:
                    polygon_contains_origin ^= True
                    candidates.append(i)
            if not candidates and not any(contained_origin):
                # fast path (the common all-shells-away-from-origin
                # case): no orientation evidence involves the origin,
                # so the polygon is never the complement
                return
            from .polygon_relations import loop_depths
            depths = loop_depths(self)
            if candidates:
                origin_idx = max(candidates, key=lambda i: depths[i])
            else:
                origin_idx = depths.index(min(depths))
            if contained_origin[origin_idx] != polygon_contains_origin:
                self.inverted = True

    def is_valid(self) -> bool:
        """No self-intersections, cross-loop crossings, duplicate
        vertices or shared edges (S2Polygon.findValidationError via the
        crossing-pairs scanner, kernel/validation.py)."""
        from .validation import find_validation_error
        return find_validation_error(
            [lp.vertices for lp in self.loops]) is None

    def complement(self) -> "Polygon":
        """The complementary region (S2Polygon.initToComplement): same
        stored loops, flipped xor-parity bit — containment and bounds
        invert, boundaries coincide."""
        q = Polygon.__new__(Polygon)
        q.loops = self.loops
        q.inverted = not self.inverted
        return q

    def contains_point(self, p: np.ndarray) -> bool:
        inside = self.inverted
        for lp in self.loops:
            inside ^= lp.contains_point(p)
        return inside

    def contains_points(self, pts: np.ndarray) -> np.ndarray:
        out = np.full(len(pts), self.inverted, dtype=bool)
        for lp in self.loops:
            out ^= lp.contains_points(pts)
        return out

    def rect_bound(self) -> LatLngRect:
        if self.inverted:
            return LatLngRect.full()
        # bound of shell loops (depth 0); conservative: union of all loops
        b = LatLngRect.empty()
        for lp in self.loops:
            b = b.union(lp.rect_bound())
        return b

    def contains_cells(self, cells: Cells) -> np.ndarray:
        """bool[m]: all cell vertices inside, no loop boundary crossing,
        and no loop's first vertex inside the cell (the polygon does not
        sit inside it).  One unreversed loop is the loop's own test."""
        if len(self.loops) == 1 and not self.inverted:
            return self.loops[0].contains_cells(cells)
        m = len(cells)
        ok = self.contains_points(cells.vertices.reshape(-1, 3)) \
            .reshape(m, 4).all(axis=1)
        for lp in self.loops:
            ok &= ~cells.contains_point(lp.vertices[0])
        for lp in self.loops:
            if ok.any():
                ok[ok] = ~lp._boundary_crosses_cells(cells.vertices[ok])
        return ok

    def may_intersect_cells(self, cells: Cells) -> np.ndarray:
        m = len(cells)
        hit = self.contains_points(cells.vertices.reshape(-1, 3)) \
            .reshape(m, 4).any(axis=1)
        for lp in self.loops:
            hit |= cells.contains_point(lp.vertices[0])
        for lp in self.loops:
            rest = ~hit
            if rest.any():
                hit[rest] = lp._boundary_crosses_cells(cells.vertices[rest])
        return hit

    def contains_cell(self, cell: Cell) -> bool:
        return bool(self.contains_cells(Cells.from_ids([cell.id]))[0])

    def may_intersect_cell(self, cell: Cell) -> bool:
        return bool(self.may_intersect_cells(Cells.from_ids([cell.id]))[0])

    def cap_bound(self) -> Cap:
        return self.rect_bound().cap_bound()
