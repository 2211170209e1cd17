"""M7: edge clipping to cube faces and uv-rectangles
(edge/S2EdgeClipping.kt:140-650) — the geometry needed to build
cell-keyed edge tables (distributed MutableS2ShapeIndex analogue) for
polylines and polygon boundaries.

Scalar/driver-side (layers are small); results feed the exploded
(cell, shape, edge) DataFrames.
"""

from __future__ import annotations

import math

import numpy as np

EPS = 2.220446049250313e-16
FACE_CLIP_ERROR_RADIANS = 3 * EPS
FACE_CLIP_ERROR_UV_COORD = 9 * math.sqrt(0.5) * EPS
INTERSECTS_RECT_ERROR_UV_DIST = 3 * math.sqrt(2.0) * EPS

# kFaceUVWFaces (S2Coords.kt:195-203): neighbor face along (axis, dir)
_UVW_FACES = (
    ((4, 1), (5, 2), (3, 0)),
    ((0, 3), (5, 2), (4, 1)),
    ((0, 3), (1, 4), (5, 2)),
    ((2, 5), (1, 4), (0, 3)),
    ((2, 5), (3, 0), (1, 4)),
    ((4, 1), (3, 0), (2, 5)),
)


def face_xyz_to_uvw(face: int, p) -> np.ndarray:
    """Dot products of p with the face's (u,v,w) axes (S2Coords.kt:383-394)."""
    x, y, z = float(p[0]), float(p[1]), float(p[2])
    return np.array((
        (y, z, x), (-x, z, y), (-x, -y, z),
        (-z, -y, -x), (-z, x, -y), (y, x, -z),
    )[face])


def uvw_face(face: int, axis: int, direction: int) -> int:
    return _UVW_FACES[face][axis][direction]


def robust_cross(a, b) -> np.ndarray:
    """robustCrossProd lite: (a-b)x(a+b) (== 2 axb with less
    cancellation); ortho fallback for identical/antipodal points."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    r = np.cross(a - b, a + b)
    if float(r @ r) > 0:
        return r
    # a == +-b: any vector orthogonal to a
    k = int(np.argmin(np.abs(a)))
    e = np.zeros(3)
    e[k] = 1.0
    return np.cross(a, e)


def _intersects_face(n) -> bool:
    """|Nu|+|Nv| >= |Nw| evaluated exactly (S2EdgeClipping.kt:413-426)."""
    u, v, w = abs(float(n[0])), abs(float(n[1])), abs(float(n[2]))
    return (v >= w - u) and (u >= w - v)


def _intersects_opposite_edges(n) -> bool:
    """||Nu|-|Nv|| >= |Nw| evaluated exactly (S2EdgeClipping.kt:432-445)."""
    u, v, w = abs(float(n[0])), abs(float(n[1])), abs(float(n[2]))
    if abs(u - v) != w:
        return abs(u - v) >= w
    return (u - w >= v) if u >= v else (v - w >= u)


def _get_exit_axis(n) -> int:
    """(S2EdgeClipping.kt:452-467)."""
    if _intersects_opposite_edges(n):
        return 1 if abs(float(n[0])) >= abs(float(n[1])) else 0
    neg = sum(1 for t in (n[0], n[1], n[2]) if float(t) < 0)
    return 1 if neg % 2 == 0 else 0


def _get_exit_point(n, axis: int) -> np.ndarray:
    """(S2EdgeClipping.kt:474-482)."""
    if axis == 0:
        u = 1.0 if float(n[1]) > 0 else -1.0
        return np.array([u, (-u * float(n[0]) - float(n[2])) / float(n[1])])
    v = 1.0 if float(n[0]) < 0 else -1.0
    return np.array([(-v * float(n[1]) - float(n[2])) / float(n[0]), v])


def _clip_destination(a, b, scaled_n, a_tangent, b_tangent,
                      scale_uv: float):
    """(S2EdgeClipping.kt:564-616) -> (score, uv)."""
    max_safe = 1 - FACE_CLIP_ERROR_UV_COORD
    if float(b[2]) > 0:
        uv = np.array([float(b[0]) / float(b[2]),
                       float(b[1]) / float(b[2])])
        if max(abs(uv[0]), abs(uv[1])) <= max_safe:
            return 0, uv
    uv = scale_uv * _get_exit_point(scaled_n, _get_exit_axis(scaled_n))
    p = np.array([uv[0], uv[1], 1.0])
    score = 0
    if float((p - a) @ a_tangent) < 0:
        score = 2          # B' on wrong side of A
    elif float((p - b) @ b_tangent) < 0:
        score = 1          # B' on wrong side of B
    if score > 0:
        if float(b[2]) <= 0:
            score = 3      # B cannot be projected onto this face
        else:
            uv = np.array([float(b[0]) / float(b[2]),
                           float(b[1]) / float(b[2])])
    return score, uv


def clip_to_padded_face(a_xyz, b_xyz, face: int, padding: float = 0.0):
    """Portion of edge AB intersecting `face`, clipped to
    [-R,R]x[-R,R], R = 1+padding (S2EdgeClipping.clipToPaddedFace,
    :219-268).  Returns (a_uv, b_uv) or None."""
    from . import cellid as ck
    a_xyz = np.asarray(a_xyz, dtype=np.float64)
    b_xyz = np.asarray(b_xyz, dtype=np.float64)
    fa, ua, va = ck.sc_xyz_to_face_uv(*[float(t) for t in a_xyz])
    fb, ub, vb = ck.sc_xyz_to_face_uv(*[float(t) for t in b_xyz])
    if fa == face and fb == face:
        return np.array([ua, va]), np.array([ub, vb])
    n = face_xyz_to_uvw(face, robust_cross(a_xyz, b_xyz))
    a = face_xyz_to_uvw(face, a_xyz)
    b = face_xyz_to_uvw(face, b_xyz)
    scale_uv = 1 + padding
    scaled_n = np.array([scale_uv * n[0], scale_uv * n[1], n[2]])
    if not _intersects_face(scaled_n):
        return None
    nn = float(np.linalg.norm(n))
    n = n / nn
    a_tangent = np.cross(n, a)
    b_tangent = np.cross(b, n)
    a_score, a_uv = _clip_destination(b, a, -scaled_n, b_tangent,
                                      a_tangent, scale_uv)
    b_score, b_uv = _clip_destination(a, b, scaled_n, a_tangent,
                                      b_tangent, scale_uv)
    if a_score + b_score >= 3:
        return None
    return a_uv, b_uv


def get_face_segments(a_xyz, b_xyz) -> list[tuple[int, np.ndarray,
                                                  np.ndarray]]:
    """All (face, a_uv, b_uv) segments of edge AB, following AB from
    face to face (S2EdgeClipping.getFaceSegments, :140-193)."""
    from . import cellid as ck
    a_xyz = np.asarray(a_xyz, dtype=np.float64)
    b_xyz = np.asarray(b_xyz, dtype=np.float64)
    fa, ua, va = ck.sc_xyz_to_face_uv(*[float(t) for t in a_xyz])
    fb, ub, vb = ck.sc_xyz_to_face_uv(*[float(t) for t in b_xyz])
    a_uv = np.array([ua, va])
    b_uv = np.array([ub, vb])
    if fa == fb:
        return [(fa, a_uv, b_uv)]
    ab = robust_cross(a_xyz, b_xyz)
    fa = _move_origin_to_valid_face(fa, a_xyz, ab, a_uv)
    fb = _move_origin_to_valid_face(fb, b_xyz, -ab, b_uv)
    segments = []
    face = fa
    seg_a = a_uv
    while face != fb:
        n = face_xyz_to_uvw(face, ab)
        exit_axis = _get_exit_axis(n)
        exit_uv = _get_exit_point(n, exit_axis)
        segments.append((face, seg_a, exit_uv))
        exit_xyz = np.array(ck.sc_face_uv_to_xyz(
            face, float(exit_uv[0]), float(exit_uv[1])))
        face = _get_next_face(face, exit_uv, exit_axis, n, fb)
        exit_uvw = face_xyz_to_uvw(face, exit_xyz)
        seg_a = np.array([exit_uvw[0], exit_uvw[1]])
    segments.append((face, seg_a, b_uv))
    return segments


def _move_origin_to_valid_face(face, a, ab, a_uv) -> int:
    """(S2EdgeClipping.kt:494-530)."""
    max_safe = 1 - FACE_CLIP_ERROR_UV_COORD
    if max(abs(float(a_uv[0])), abs(float(a_uv[1]))) <= max_safe:
        return face
    n = face_xyz_to_uvw(face, ab)
    if _intersects_face(n):
        from . import cellid as ck
        exit_uv = _get_exit_point(n, _get_exit_axis(n))
        exit_xyz = np.array(ck.sc_face_uv_to_xyz(
            face, float(exit_uv[0]), float(exit_uv[1])))
        abn = ab / np.linalg.norm(ab)
        a_tangent = np.cross(abn, a)
        if float((exit_xyz - a) @ a_tangent) >= -FACE_CLIP_ERROR_RADIANS:
            return face
    # reproject A to the nearest adjacent face along the dominant uv axis
    if abs(float(a_uv[0])) >= abs(float(a_uv[1])):
        nf = uvw_face(face, 0, 1 if float(a_uv[0]) > 0 else 0)
    else:
        nf = uvw_face(face, 1, 1 if float(a_uv[1]) > 0 else 0)
    uvw = face_xyz_to_uvw(nf, a)
    a_uv[0] = uvw[0] / uvw[2]
    a_uv[1] = uvw[1] / uvw[2]
    a_uv[0] = max(-1.0, min(1.0, float(a_uv[0])))
    a_uv[1] = max(-1.0, min(1.0, float(a_uv[1])))
    return nf


def _sum_equals(u: float, v: float, w: float) -> bool:
    """Exact test that u + v == w with no rounding in the sum
    (S2EdgeClipping.kt:409 sumEquals): the three float comparisons hold
    simultaneously iff the exact real-number sum equals w."""
    return (u + v == w) and (u == w - v) and (v == w - u)


def _get_next_face(face, exit_uv, axis, n, target_face) -> int:
    """(S2EdgeClipping.kt:532-551)."""
    other = 1 - axis
    if abs(float(exit_uv[other])) == 1.0 and \
            uvw_face(face, other, 1 if float(exit_uv[other]) > 0 else 0) \
            == target_face and \
            _sum_equals(float(exit_uv[0]) * float(n[0]),
                        float(exit_uv[1]) * float(n[1]), -float(n[2])):
        return target_face
    return uvw_face(face, axis, 1 if float(exit_uv[axis]) > 0 else 0)


# ---------------------------------------------------------------------------
# 2D uv-rect clipping (S2EdgeClipping.kt:307-650)
# ---------------------------------------------------------------------------

def _interpolate_double(x, a, b, a1, b1) -> float:
    """(S2EdgeClipping.kt interpolateDouble): exact at both endpoints."""
    assert a != b
    if abs(a - x) <= abs(b - x):
        return a1 + (b1 - a1) * (x - a) / (b - a)
    return b1 + (a1 - b1) * (x - b) / (a - b)


def _update_endpoint(bound, end, value) -> bool:
    if end == 0:
        if bound[1] < value:
            return False
        if bound[0] < value:
            bound[0] = value
    else:
        if bound[0] > value:
            return False
        if bound[1] > value:
            bound[1] = value
    return True


def _clip_bound_axis(a0, b0, bound0, a1, b1, bound1, diag, clip0) -> bool:
    if bound0[0] < clip0[0]:
        if bound0[1] < clip0[0]:
            return False
        bound0[0] = clip0[0]
        if not _update_endpoint(bound1, diag,
                                _interpolate_double(clip0[0], a0, b0,
                                                    a1, b1)):
            return False
    if bound0[1] > clip0[1]:
        if bound0[0] > clip0[1]:
            return False
        bound0[1] = clip0[1]
        if not _update_endpoint(bound1, 1 - diag,
                                _interpolate_double(clip0[1], a0, b0,
                                                    a1, b1)):
            return False
    return True


def clip_edge_bound(a, b, clip_u, clip_v, bound_u, bound_v) -> bool:
    """(S2EdgeClipping.clipEdgeBound, :620-650): tighten (bound_u,
    bound_v) in place to AB ∩ clip; False if empty."""
    diag = 1 if (a[0] > b[0]) != (a[1] > b[1]) else 0
    return (_clip_bound_axis(a[0], b[0], bound_u, a[1], b[1], bound_v,
                             diag, clip_u) and
            _clip_bound_axis(a[1], b[1], bound_v, a[0], b[0], bound_u,
                             diag, clip_v))


def intersects_rect(a, b, u_lo: float, u_hi: float,
                    v_lo: float, v_hi: float) -> bool:
    """S2EdgeClipping.intersectsRect (:287-305): does 2D segment AB
    intersect the closed uv rectangle?  Exact up to double rounding;
    callers expand the rect by INTERSECTS_RECT_ERROR_UV_DIST for a
    conservative answer."""
    a0, a1 = float(a[0]), float(a[1])
    b0, b1 = float(b[0]), float(b[1])
    if max(a0, b0) < u_lo or min(a0, b0) > u_hi or \
            max(a1, b1) < v_lo or min(a1, b1) > v_hi:
        return False
    # all four rect vertices must not lie on the same side of line AB
    n0, n1 = -(b1 - a1), (b0 - a0)           # normal to AB
    u_far = u_hi if n0 >= 0 else u_lo
    v_far = v_hi if n1 >= 0 else v_lo
    u_near = u_lo if n0 >= 0 else u_hi
    v_near = v_lo if n1 >= 0 else v_hi
    hi = n0 * (u_far - a0) + n1 * (v_far - a1)
    lo = n0 * (u_near - a0) + n1 * (v_near - a1)
    return hi >= 0 and lo <= 0


def clip_edge(a, b, clip_u, clip_v):
    """(S2EdgeClipping.clipEdge, :307-326): portion of 2D segment AB in
    the clip rect, or None."""
    a = [float(a[0]), float(a[1])]
    b = [float(b[0]), float(b[1])]
    bound_u = [min(a[0], b[0]), max(a[0], b[0])]
    bound_v = [min(a[1], b[1]), max(a[1], b[1])]
    if not clip_edge_bound(a, b, list(clip_u), list(clip_v),
                           bound_u, bound_v):
        return None
    ai = 1 if a[0] > b[0] else 0
    aj = 1 if a[1] > b[1] else 0
    return (np.array([bound_u[ai], bound_v[aj]]),
            np.array([bound_u[1 - ai], bound_v[1 - aj]]))
