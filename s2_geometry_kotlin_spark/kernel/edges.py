"""Edge distance/projection/interpolation kernels (SURVEY.md §2.5 D2-D3,
§2.6 M8-adjacent).

Completes the D2 family (S2EdgeDistances.kt:199-346): project,
interpolate, interpolateAtDistance, edge-pair distance; and the D3
cell-distance kernels (region/S2Cell.kt:254-386) expressed over the
cell's boundary vertices — the pruning bounds a distributed
S2ClosestEdgeQuery/S2ClosestCellQuery needs.

All kernels are vectorized numpy over (n,3) float64 unit vectors and
compare in squared-chord space (S1ChordAngle semantics).
"""

from __future__ import annotations

import numpy as np

from . import cellid as ck
from .distance import point_edge_chord2


def point_edge_chord2_pairwise(p: np.ndarray, a: np.ndarray,
                               b: np.ndarray) -> np.ndarray:
    """Paired min squared-chord distance: p[i] to edge (a[i], b[i]).

    Same interior-vs-endpoint selection as distance.point_edge_chord2
    (S2EdgeDistances.updateMinDistance, S2EdgeDistances.kt:71-118), but
    elementwise over aligned arrays instead of the (m,n) matrix."""
    nrm = np.cross(a, b)
    nrm2 = np.einsum("ij,ij->i", nrm, nrm)
    na = np.cross(nrm, a)
    bn = np.cross(b, nrm)
    inside = (np.einsum("ij,ij->i", p, na) > 0) & \
        (np.einsum("ij,ij->i", p, bn) > 0)
    xn = np.einsum("ij,ij->i", p, nrm)
    with np.errstate(divide="ignore", invalid="ignore"):
        sin2 = np.where(nrm2 > 0.0, (xn * xn) / nrm2, 0.0)
    sin2 = np.clip(sin2, 0.0, 1.0)
    # stable form of 2*(1 - sqrt(1 - sin2)): the naive difference
    # underflows to 0 for distances below ~sqrt(eps) radians
    interior_d2 = 2.0 * sin2 / (1.0 + np.sqrt(1.0 - sin2))
    pa = p - a
    pb = p - b
    da = np.minimum(4.0, np.einsum("ij,ij->i", pa, pa))
    db = np.minimum(4.0, np.einsum("ij,ij->i", pb, pb))
    end_d2 = np.minimum(da, db)
    return np.where(inside, np.minimum(interior_d2, end_d2), end_d2)


def project_to_edge(p: np.ndarray, a: np.ndarray,
                    b: np.ndarray) -> np.ndarray:
    """Closest point on edge (a[i], b[i]) to p[i] — S2EdgeDistances.project
    (edge/S2EdgeDistances.kt:199-226): drop the component of p along the
    edge normal when the foot lies on the arc, else the nearer endpoint."""
    nrm = np.cross(a, b)
    nrm2 = np.einsum("ij,ij->i", nrm, nrm)
    na = np.cross(nrm, a)
    bn = np.cross(b, nrm)
    inside = (np.einsum("ij,ij->i", p, na) > 0) & \
        (np.einsum("ij,ij->i", p, bn) > 0) & (nrm2 > 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        coef = np.where(nrm2 > 0, np.einsum("ij,ij->i", p, nrm) / nrm2, 0.0)
    foot = p - coef[:, None] * nrm
    # guard zero-length feet (p parallel to nrm): fall back to endpoint
    fn = np.sqrt(np.einsum("ij,ij->i", foot, foot))
    ok = fn > 0
    foot[ok] = foot[ok] / fn[ok, None]
    # endpoint selection (paired; stable difference form)
    pa = p - a
    pb = p - b
    da = np.minimum(4.0, np.einsum("ij,ij->i", pa, pa))
    db = np.minimum(4.0, np.einsum("ij,ij->i", pb, pb))
    nearer = np.where((da <= db)[:, None], a, b)
    return np.where((inside & ok)[:, None], foot, nearer)


def interpolate_at_distance(a: np.ndarray, b: np.ndarray,
                            angle_rad) -> np.ndarray:
    """Point at spherical distance `angle_rad` from a along edge (a,b) —
    S2EdgeDistances.interpolateAtDistance (edge/S2EdgeDistances.kt:242-275):
    p = a*cos(ax) + tangent*sin(ax), tangent = normalize(b - (a.b) a)."""
    ax = np.atleast_1d(np.asarray(angle_rad, dtype=np.float64))
    dot = np.einsum("ij,ij->i", a, b)
    tan = b - dot[:, None] * a
    tn = np.sqrt(np.einsum("ij,ij->i", tan, tan))
    # (anti)parallel endpoints leave only floating-point residue in the
    # tangent, whose direction need not be perpendicular to `a` — the
    # reference's robust cross product guarantees SOME exact
    # perpendicular there (direction arbitrary, distance preserved);
    # substitute pred.ortho(a) for those rows
    degen = tn < 1e-14
    if degen.any():
        from . import predicates as _pred
        for i in np.flatnonzero(degen).tolist():
            tan[i] = _pred.ortho(a[i])
            tn[i] = float(np.linalg.norm(tan[i]))
    safe = tn > 0
    tan[safe] = tan[safe] / tn[safe, None]
    return a * np.cos(ax)[:, None] + tan * np.sin(ax)[:, None]


def interpolate(a: np.ndarray, b: np.ndarray, t) -> np.ndarray:
    """Fraction-t point on each edge (S2EdgeDistances.interpolate):
    t=0 -> a, t=1 -> b, by angle.

    The edge angle uses atan2(|a x b|, a.b) — the S1Angle(x, y) form —
    because arccos of the dot product cannot resolve angles below
    ~1e-8: on a zero-length edge it reports 1.5e-8 rad and interpolate
    would drift off the endpoint (caught by the ported
    S2EdgeDistancesUnitTest interpolate fixture)."""
    cr = np.cross(a, b)
    s = np.sqrt(np.einsum("ij,ij->i", cr, cr))
    c = np.einsum("ij,ij->i", a, b)
    ang = np.arctan2(s, c)
    return interpolate_at_distance(a, b, np.asarray(t) * ang)


def edges_cross(a, b, c, d) -> np.ndarray:
    """Strict interior crossing test for edge pairs (a[i],b[i]) x
    (c[i],d[i]) — triage-determinant form of crossingSign
    (edge/S2EdgeCrossings.kt:115-118); ties (shared vertices /
    degeneracies) report False, callers needing SEMI_OPEN parity use the
    pip kernel's vertex-crossing logic."""
    n_ab = np.cross(a, b)
    n_cd = np.cross(c, d)
    acb = -np.sign(np.einsum("ij,ij->i", n_ab, c))
    bda = np.sign(np.einsum("ij,ij->i", n_ab, d))
    cbd = -np.sign(np.einsum("ij,ij->i", n_cd, b))
    dac = np.sign(np.einsum("ij,ij->i", n_cd, a))
    return (acb != 0) & (acb == bda) & (acb == cbd) & (acb == dac)


def edge_edge_chord2(a, b, c, d) -> np.ndarray:
    """Min squared-chord distance between edge pairs — edge-pair minima
    (S2EdgeDistances.kt:279-346): 0 when the edges cross, else the min of
    the four endpoint-to-other-edge distances."""
    cross = edges_cross(a, b, c, d)
    d1 = point_edge_chord2_pairwise(c, a, b)
    d2 = point_edge_chord2_pairwise(d, a, b)
    d3 = point_edge_chord2_pairwise(a, c, d)
    d4 = point_edge_chord2_pairwise(b, c, d)
    md = np.minimum(np.minimum(d1, d2), np.minimum(d3, d4))
    return np.where(cross, 0.0, md)


def edge_intersection(a: np.ndarray, b: np.ndarray, c: np.ndarray,
                      d: np.ndarray) -> np.ndarray:
    """M8: intersection point of crossing edges AB and CD
    (S2EdgeCrossings.getIntersection, S2EdgeCrossings.kt:241-306).

    Follows the reference's escalation structure at reduced fidelity:
    the numerically-stable cross-product form (X-Y)x(X+Y) first (the
    core of getIntersectionSimple, :320-340), falling back to exact
    Fraction arithmetic when the result direction is degenerate.  The
    sign is fixed so the result lies on the front hemisphere of both
    edges (dot with the vertex sum, :300-305).

    REQUIRES: the edges actually cross (crossingSign > 0).
    """
    def stable_cross(x, y):
        # (x-y) x (x+y) == 2 (x x y), with less cancellation
        return np.cross(x - y, x + y)

    na = stable_cross(a, b)
    nb = stable_cross(c, d)
    r = np.cross(na, nb)
    n = float(np.linalg.norm(r))
    # the float direction error is ~eps * |na||nb| / |r|: escalate to
    # exact arithmetic whenever the two great circles are grazing
    # (|r| small RELATIVE to |na||nb|), not just on absolute underflow
    # — the reference's getIntersectionStable error-bound escalation
    # (S2EdgeCrossings.kt:320-360); pinned by the ported
    # grazingIntersections ordering sweep
    scale = float(np.linalg.norm(na)) * float(np.linalg.norm(nb))
    if n < 0.125 * scale or n < 1e-28:
        # near-parallel great circles: exact arithmetic direction
        from fractions import Fraction as Fr

        def fr(v):
            return [Fr(float(t)) for t in v]

        def crossf(x, y):
            return [x[1] * y[2] - x[2] * y[1],
                    x[2] * y[0] - x[0] * y[2],
                    x[0] * y[1] - x[1] * y[0]]

        rf = crossf(crossf(fr(a), fr(b)), crossf(fr(c), fr(d)))
        r = np.array([float(t) for t in rf])
        n = float(np.linalg.norm(r))
        if n == 0.0:
            # identical great circles: any shared point; use midpoint
            r = (a + b) / 2.0
            n = float(np.linalg.norm(r))
    r = r / n
    if float(r @ ((a + b) + (c + d))) < 0:
        r = -r
    return r


# ---------------------------------------------------------------------------
# D3: cell distances (region/S2Cell.kt:254-386) via boundary vertices
# ---------------------------------------------------------------------------

def cell_point_chord2(cell_ids, points: np.ndarray) -> np.ndarray:
    """(n cells, m points) -> (n, m) squared-chord distance from each
    point to each cell: 0 when the point is inside the cell, else the
    min distance to the cell's 4 boundary edges (S2Cell.getDistance,
    S2Cell.kt:254-307 — the interior case short-circuits to zero)."""
    ids = np.atleast_1d(np.asarray(cell_ids))
    verts = ck.cell_vertices(ids)            # (n,4,3)
    n, m = len(ids), len(points)
    out = np.empty((n, m), dtype=np.float64)
    from .regions import Cell
    for idx in range(n):
        cv = verts[idx]
        a = cv
        b = np.roll(cv, -1, axis=0)
        d2 = point_edge_chord2(points, a, b).min(axis=1)
        cell = Cell(int(np.asarray(ids).view(np.uint64)[idx]))
        inside = np.fromiter((cell.contains_point(p) for p in points),
                             dtype=bool, count=m)
        out[idx] = np.where(inside, 0.0, d2)
    return out


def cell_edge_chord2(cell_id: int, a: np.ndarray,
                     b: np.ndarray) -> np.ndarray:
    """Min squared-chord distance from each edge (a[i],b[i]) to the cell
    (S2Cell.getDistance(edge), S2Cell.kt:309-341): 0 if either endpoint
    is inside or the edge crosses the boundary, else min over the 4
    boundary edges."""
    cv = ck.cell_vertices(np.array([cell_id]))[0]
    m = len(a)
    from .regions import Cell
    cell = Cell(int(cell_id))
    ins_a = np.fromiter((cell.contains_point(p) for p in a), bool, count=m)
    ins_b = np.fromiter((cell.contains_point(p) for p in b), bool, count=m)
    best = np.full(m, 4.0)
    for k in range(4):
        c = np.broadcast_to(cv[k], (m, 3))
        d = np.broadcast_to(cv[(k + 1) % 4], (m, 3))
        best = np.minimum(best, edge_edge_chord2(a, b, c, d))
    return np.where(ins_a | ins_b, 0.0, best)


def cell_cell_chord2(id_a: int, id_b: int) -> float:
    """Min squared-chord distance between two cells
    (S2Cell.getDistance(cell), S2Cell.kt:343-386): 0 when they intersect
    (range overlap), else min over boundary edge pairs."""
    ra = (ck.sc_range_min(id_a), ck.sc_range_max(id_a))
    rb = (ck.sc_range_min(id_b), ck.sc_range_max(id_b))
    if ra[0] <= rb[1] and rb[0] <= ra[1]:
        return 0.0
    va = ck.cell_vertices(np.array([id_a]))[0]
    best = 4.0
    for k in range(4):
        a = np.broadcast_to(va[k], (4, 3)).copy()
        b = np.broadcast_to(va[(k + 1) % 4], (4, 3)).copy()
        best = min(best, float(cell_edge_chord2(id_b, a, b).min()))
    return best
