"""S2Polyline (region/S2Polyline.kt) — the route/trajectory geometry.

Scalar/driver-side class implementing the S2Region contract (so the
coverer can tile it) plus the polyline query surface:
- interpolate(t) / get_suffix        (S2Polyline.kt:192-240)
- project(point) -> (point, next_v)  (S2Polyline.kt:286-320)
- is_on_right / intersects           (S2Polyline.kt:329-384)
- subsample_vertices(tolerance)      (S2Polyline.kt:421-460)

The per-page hot path never calls these: pages go through the exploded
covering DataFrame and pure-SQL edge-distance expressions
(operators/routes.py).
"""

from __future__ import annotations

import math

import numpy as np

from . import cellid as ck
from . import edges as ek
from .regions import Cell, LatLngRect, LngInterval, PerCellPredicates


class Polyline(PerCellPredicates):
    def __init__(self, vertices: np.ndarray):
        v = np.asarray(vertices, dtype=np.float64)
        # >= 1: the reference treats one-vertex polylines as valid for
        # subsampling/interpolation (S2PolylineUnitTest fixtures)
        assert v.ndim == 2 and v.shape[1] == 3 and len(v) >= 1
        self.vertices = v
        self._bound: LatLngRect | None = None

    @staticmethod
    def from_latlng_deg(latlng: list[tuple[float, float]]) -> "Polyline":
        la = np.array([p[0] for p in latlng], dtype=np.float64)
        lo = np.array([p[1] for p in latlng], dtype=np.float64)
        x, y, z = ck.latlng_deg_to_xyz(la, lo)
        return Polyline(np.stack([x, y, z], axis=1))

    @staticmethod
    def from_latlng_text(text: str) -> "Polyline":
        pts = []
        for tok in text.split(","):
            lat, lng = tok.strip().split(":")
            pts.append((float(lat), float(lng)))
        return Polyline.from_latlng_deg(pts)

    # -- measures -----------------------------------------------------------

    def edge_angles(self) -> np.ndarray:
        # atan2(|a x b|, a.b) — the S1Angle form; arccos of the dot
        # cannot resolve below ~1e-8 rad and would overestimate every
        # degenerate/short edge (same defect the ported interpolate
        # fixture caught in kernel/edges.py)
        a = self.vertices[:-1]
        b = self.vertices[1:]
        cr = np.cross(a, b)
        s = np.sqrt(np.einsum("ij,ij->i", cr, cr))
        c = np.einsum("ij,ij->i", a, b)
        return np.arctan2(s, c)

    def arclength_angle(self) -> float:
        """getLength (S2Polyline.kt:168-176)."""
        return float(self.edge_angles().sum())

    def cumulative_angles(self) -> np.ndarray:
        """Angle from vertex 0 to each vertex start (len n-1 edges ->
        prefix sums, leading 0)."""
        return np.concatenate([[0.0], np.cumsum(self.edge_angles())])

    # -- queries ------------------------------------------------------------

    def interpolate(self, t: float) -> np.ndarray:
        """Point at fraction t of total length (S2Polyline.kt:192-214);
        t <= 0 -> first vertex, t >= 1 -> last vertex."""
        if t <= 0 or len(self.vertices) == 1:
            return self.vertices[0].copy()
        target = t * self.arclength_angle()
        cum = self.cumulative_angles()
        if target >= cum[-1]:
            return self.vertices[-1].copy()
        i = int(np.searchsorted(cum, target, side="right")) - 1
        a = self.vertices[i:i + 1]
        b = self.vertices[i + 1:i + 2]
        return ek.interpolate_at_distance(a, b, target - cum[i])[0]

    def project(self, p: np.ndarray) -> tuple[np.ndarray, int]:
        """Closest point on the line + index of the vertex that FOLLOWS
        it (S2Polyline.kt:286-320)."""
        if len(self.vertices) == 1:
            return self.vertices[0].copy(), 1
        a = self.vertices[:-1]
        b = self.vertices[1:]
        pts = np.broadcast_to(np.asarray(p, dtype=np.float64),
                              a.shape).copy()
        d2 = ek.point_edge_chord2_pairwise(pts, a, b)
        i = int(np.argmin(d2))
        q = ek.project_to_edge(pts[i:i + 1], a[i:i + 1], b[i:i + 1])[0]
        # next vertex: i+1, or i+2 when q coincides with vertex i+1
        # (may equal numVertices, like the reference's nextVertex)
        nxt = i + 1
        if float(np.abs(q - self.vertices[i + 1]).max()) == 0.0:
            nxt = i + 2
        return q, nxt

    def intersects(self, other: "Polyline") -> bool:
        """Any edge pair with crossingSign >= 0 (S2Polyline.kt:360-384)
        — INCLUDING shared vertices and vertices on edge interiors,
        like the reference (S2PolylineUnitTest intersectsAtVertex /
        intersectsVertexOnEdge).  The strict-crossing triage kernel
        answers the common case; remaining pairs take the exact scalar
        ladder (layer-sized polylines by design)."""
        if len(self.vertices) < 2 or len(other.vertices) < 2:
            return False
        a = self.vertices[:-1]
        b = self.vertices[1:]
        c = other.vertices[:-1]
        d = other.vertices[1:]
        na, nc = len(a), len(c)
        ai = np.repeat(np.arange(na), nc)
        ci = np.tile(np.arange(nc), na)
        if bool(ek.edges_cross(a[ai], b[ai], c[ci], d[ci]).any()):
            return True
        # crossing_sign >= 0 without a strict crossing requires CONTACT
        # (shared vertex or vertex on an edge interior), i.e. exact
        # edge-edge distance zero — so the exact ladder only needs the
        # pairs whose vectorized chord distance is within kernel error
        # of zero (ADVICE r5: the previous all-pairs ladder made every
        # DISJOINT polyline pair pay the quadratic exact-arithmetic
        # cost, the common case in bulk joins)
        d2 = ek.edge_edge_chord2(a[ai], b[ai], c[ci], d[ci])
        near = np.flatnonzero(d2 <= 1e-24)  # chord 1e-12 >> kernel err
        from . import predicates as pred
        for k in near:
            i, j = int(ai[k]), int(ci[k])
            if pred.crossing_sign(a[i], b[i], c[j], d[j]) >= 0:
                return True
        return False

    def subsample_vertices(self, tolerance_rad: float) -> list[int]:
        """S2Polyline.subsampleVertices (S2Polyline.kt:421-441 +
        findEndVertex :745-823): greedy forward runs decided by the
        PIE-WEDGE algebra — a run may be collapsed only while a ray
        from the run's start can pass through the tolerance discs of
        every skipped vertex, vertices appear in non-decreasing
        distance along the ray (parametric equivalence), and no created
        segment exceeds 90 degrees.  Duplicate adjacent output vertices
        are never generated (a fully-backtracking polyline collapses to
        its first vertex)."""
        n = len(self.vertices)
        if n == 0:
            return []
        out = [0]
        tol = max(float(tolerance_rad), 0.0)
        index = 0
        while index + 1 < n:
            nxt = self._find_end_vertex(tol, index)
            if not np.array_equal(self.vertices[nxt],
                                  self.vertices[index]):
                out.append(nxt)
            index = nxt
        return out

    def _find_end_vertex(self, tol: float, index: int) -> int:
        from . import predicates as pred
        n = len(self.vertices)
        origin = self.vertices[index]
        from .regions import LngInterval
        x_axis = pred.ortho(origin)
        x_axis = x_axis / np.linalg.norm(x_axis)
        y_axis = np.cross(origin, x_axis)
        wedge = LngInterval.full()

        def norm_angle(t: float) -> float:
            t = math.remainder(t, 2 * math.pi)
            return math.pi if t == -math.pi else t

        last_distance = 0.0
        target = index + 1
        while target < n:
            cand = self.vertices[target]
            distance = math.atan2(
                float(np.linalg.norm(np.cross(origin, cand))),
                float(origin @ cand))
            # never create segments longer than 90 degrees (original
            # longer edges pass through untouched)
            if distance > math.pi / 2 and last_distance > 0:
                break
            # non-decreasing distance along the ray, except inside the
            # initial tolerance disc
            if distance < last_distance and last_distance > tol:
                break
            last_distance = distance
            if distance <= tol:
                target += 1
                continue
            center = math.atan2(float(cand @ y_axis),
                                float(cand @ x_axis))
            if not wedge.contains(center):
                break
            half = math.asin(min(1.0, math.sin(tol)
                             / math.sin(distance)))
            target_iv = LngInterval(norm_angle(center - half),
                                    norm_angle(center + half))
            wedge = wedge.intersection(target_iv)
            target += 1
        return target - 1

    def simplify(self, tolerance_rad: float) -> "Polyline":
        """B4 tolerance-true simplification via S2PolylineSimplifier's
        bearing-window algebra (kernel/polyline_simplifier.py; reference
        region/S2PolylineSimplifier.kt + the S2Polyline.initToSimplified
        usage, S2Polygon.kt:896) — typically much stronger thinning than
        subsample_vertices at the same tolerance."""
        from .polyline_simplifier import simplify_polyline
        idx = simplify_polyline(self.vertices, tolerance_rad)
        return Polyline(self.vertices[idx])

    # -- S2Region contract (for the coverer) ---------------------------------

    def rect_bound(self) -> LatLngRect:
        if self._bound is not None:
            return self._bound
        v = self.vertices
        lat = np.arctan2(v[:, 2], np.sqrt(v[:, 0] ** 2 + v[:, 1] ** 2))
        lng = np.arctan2(v[:, 1], v[:, 0])
        li = LngInterval.empty()
        for i in range(len(v) - 1):
            li = li.union_interval(LngInterval.from_point_pair(
                float(lng[i]), float(lng[i + 1])))
        # per-edge latitude extremes, same bounder logic as Loop
        lat_lo, lat_hi = float(lat.min()), float(lat.max())
        for i in range(len(v) - 1):
            a, b = v[i], v[i + 1]
            nrm = np.cross(a, b)
            n2 = float(nrm @ nrm)
            if n2 == 0.0:
                continue
            nxy = math.hypot(float(nrm[0]), float(nrm[1]))
            if nxy == 0.0:
                continue
            max_lat = math.asin(min(1.0, nxy / math.sqrt(n2)))
            p_ext = np.array([-nrm[0] * nrm[2], -nrm[1] * nrm[2],
                              nxy * nxy])
            p_ext /= np.linalg.norm(p_ext)
            for cand, lat_cand in ((p_ext, max_lat), (-p_ext, -max_lat)):
                if float(np.cross(a, cand) @ nrm) >= 0 and \
                        float(np.cross(cand, b) @ nrm) >= 0:
                    lat_lo = min(lat_lo, lat_cand)
                    lat_hi = max(lat_hi, lat_cand)
        eps = 4 * 2.220446049250313e-16
        li = li.expanded(eps)
        b = LatLngRect(max(lat_lo - eps, -math.pi / 2),
                       min(lat_hi + eps, math.pi / 2), li.lo, li.hi)
        self._bound = b
        return b

    def cap_bound(self):
        return self.rect_bound().cap_bound()

    def contains_cell(self, cell: Cell) -> bool:
        # a 1-dimensional region never contains a cell
        return False

    def may_intersect_cell(self, cell: Cell) -> bool:
        if not self.rect_bound().intersects_rect(cell.rect_bound()):
            return False
        # any vertex inside the cell, or any edge crossing a cell edge
        for v in self.vertices:
            if cell.contains_point(v):
                return True
        cv = cell.vertices()
        a = self.vertices[:-1]
        b = self.vertices[1:]
        for k in range(4):
            c = np.broadcast_to(cv[k], a.shape).copy()
            d = np.broadcast_to(cv[(k + 1) % 4], a.shape).copy()
            # conservative: count uncertain (touching) pairs as crossing
            n_ab = np.cross(a, b)
            n_cd = np.cross(c, d)
            acb = -np.sign(np.einsum("ij,ij->i", n_ab, c))
            bda = np.sign(np.einsum("ij,ij->i", n_ab, d))
            cbd = -np.sign(np.einsum("ij,ij->i", n_cd, b))
            dac = np.sign(np.einsum("ij,ij->i", n_cd, a))
            crossing = (acb == bda) & (cbd == acb) & (dac == acb) & \
                (acb != 0)
            uncertain = (acb == 0) | (bda == 0) | (cbd == 0) | (dac == 0)
            if bool((crossing | uncertain).any()):
                return True
        return False
