"""Vectorized point-in-polygon crossing-parity kernel (P4/P5).

The distributed PIP join predicate: after the covering prejoin, batches of
candidate points are tested against a loop with crossing parity from the
fixed origin — the same convention as the reference's bruteForceContains
(dilivia/s2/region/S2Loop.kt:981-998) with edgeOrVertexCrossing tie-breaks
(SEMI_OPEN vertex model, S2ContainsPointQuery.kt:44).

The hot path is numpy: for m points x n edges the crossing test needs three
determinant families, two of which are matrix products.  Entries where the
float triage is uncertain (|det| <= 1.8274*eps) or where a query point
coincides with a loop vertex escalate to the exact scalar predicates in
predicates.py — mask-escalation, never a python loop over all rows.
"""

from __future__ import annotations

import numpy as np

from . import predicates as pred


def _close_ring(vertices: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """edge arrays (C, D): C[i]=v_i, D[i]=v_{i+1 mod n}."""
    return vertices, next_rows(vertices)


def next_rows(x: np.ndarray, axis: int = 0) -> np.ndarray:
    """np.roll(x, -1, axis) for axis 0 or 1, without np.roll's per-call
    axis handling (the coverer calls this tens of thousands of times)."""
    if axis == 0:
        return np.concatenate((x[1:], x[:1]))
    return np.concatenate((x[:, 1:], x[:, :1]), axis=1)


def cross_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise a x b of (n, 3) arrays, or of an (n, 3) array and one
    3-vector: np.cross's arithmetic, operation for operation (so the
    same bits), without its per-call overhead."""
    a0, a1, a2 = a[..., 0], a[..., 1], a[..., 2]
    b0, b1, b2 = b[..., 0], b[..., 1], b[..., 2]
    out = np.empty(a.shape if a.ndim >= b.ndim else b.shape)
    out[..., 0] = a1 * b2 - a2 * b1
    out[..., 1] = a2 * b0 - a0 * b2
    out[..., 2] = a0 * b1 - a1 * b0
    return out


def loop_contains_points(vertices: np.ndarray, points: np.ndarray,
                         origin_inside: bool) -> np.ndarray:
    """bool[m]: crossing parity from ORIGIN for each point.

    vertices: (n,3) float64 unit vectors, CCW interior-left.
    points:   (m,3) float64 unit vectors.
    """
    n = len(vertices)
    m = len(points)
    if n < 3:
        return np.full(m, origin_inside)
    a = pred.ORIGIN
    c, d = _close_ring(vertices)
    err = pred.MAX_DET_ERROR

    # det1[j, i] = (A x P_j) . V_i  (triage det of sign(A, P_j, V_i));
    # the cross product is written out component-wise and the big (m,n)
    # products go through BLAS matmuls — numpy's generic np.cross and
    # int-typed sign arrays are ~10x slower on the hot path.
    op = np.empty_like(points)
    op[:, 0] = a[1] * points[:, 2] - a[2] * points[:, 1]
    op[:, 1] = a[2] * points[:, 0] - a[0] * points[:, 2]
    op[:, 2] = a[0] * points[:, 1] - a[1] * points[:, 0]
    det1c = op @ vertices.T                            # (m,n) sign(A,P,C)
    det1d = next_rows(det1c, axis=1)                   # sign(A,P,D)
    e = cross_rows(c, d)                               # (n,3), small
    det2 = e @ a                                       # (n,)  sign(C,D,A)
    det3 = points @ e.T                                # (m,n) sign(C,D,P)

    pos1c = det1c > err
    neg1c = det1c < -err
    pos1d = next_rows(pos1c, axis=1)
    neg1d = next_rows(neg1c, axis=1)
    pos3 = det3 > err
    neg3 = det3 < -err
    pos2 = det2 > err
    neg2 = det2 < -err

    # interior crossing with t = -sign(A,P,C):
    #   sign(A,P,D) == t  AND  sign(C,D,P) == sign(A,P,C)  AND
    #   sign(C,D,A) == t        (all strictly nonzero)
    crossing = ((pos1d & neg1c) | (neg1d & pos1c)) & \
               ((pos3 & pos1c) | (neg3 & neg1c)) & \
               ((pos2[None, :] & neg1c) | (neg2[None, :] & pos1c))

    # escalate where any triage is uncertain; exact vertex coincidences
    # (P == C/D) force det1 to ~0 and are caught by the same mask
    uncertain = (~(pos1c | neg1c)) | (~(pos1d | neg1d)) | \
                (~(pos3 | neg3)) | (~(pos2 | neg2))[None, :]
    if uncertain.any():
        js, iss = np.nonzero(uncertain)
        for j, i in zip(js.tolist(), iss.tolist()):
            crossing[j, i] = pred.edge_or_vertex_crossing(
                a, points[j], c[i], d[i])

    parity = np.bitwise_xor.reduce(crossing, axis=1)
    return parity ^ origin_inside


def compute_origin_inside(vertices: np.ndarray) -> bool:
    """Bootstrap the originInside flag (S2Loop.kt:874-912).

    A loop with consecutive vertices A,B,C contains vertex B iff
    ortho(B) is inside the wedge ABC (closed at A, open at C).
    """
    n = len(vertices)
    if n < 3:
        if n == 1 and _is_empty_or_full(vertices[0]):
            return bool(vertices[0][2] < 0)
        return False
    v0, v1, v2 = vertices[0], vertices[1], vertices[2]
    v1_inside = pred.ordered_ccw(pred.ortho(v1), v0, v2, v1)
    contains_v1 = bool(loop_contains_points(
        vertices, v1[None, :], origin_inside=False)[0])
    return v1_inside != contains_v1


def _is_empty_or_full(v: np.ndarray) -> bool:
    return abs(abs(float(v[2])) - 1.0) < 1e-12 and \
        abs(float(v[0])) < 1e-12 and abs(float(v[1])) < 1e-12


def polygon_contains_points(loops: list[np.ndarray],
                            points: np.ndarray,
                            vertex_model: str = "semi_open",
                            inverted: bool = False) -> np.ndarray:
    """Multi-loop polygon containment: xor of per-loop parity
    (S2Polygon.kt:1357-1376).  `inverted` is the Polygon.inverted
    parity bit (initOriented steps 4-5, regions.py): a polygon whose
    region is the complement of its stored loops' xor.

    P6 vertex models (S2ContainsPointQuery.kt:44 S2VertexModel, applied
    as in shapeContains): SEMI_OPEN is the parity default; under OPEN a
    point coinciding with any polygon vertex is never contained, under
    CLOSED it always is."""
    out = np.full(len(points), bool(inverted), dtype=bool)
    for verts in loops:
        oi = compute_origin_inside(verts)
        out ^= loop_contains_points(verts, points, oi)
    if vertex_model != "semi_open":
        assert vertex_model in ("open", "closed"), vertex_model
        allv = np.concatenate(loops, axis=0)
        on_vertex = (points[:, None, :] == allv[None, :, :]) \
            .all(axis=2).any(axis=1)
        out[on_vertex] = (vertex_model == "closed")
    return out
