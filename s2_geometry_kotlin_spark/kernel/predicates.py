"""Robust geometric predicates (SURVEY.md §2.4 P1-P3).

Re-implements the reference's escalation ladder — vectorized float triage
for the ~99.99% fast path, then per-row stable recompute, then exact
rational arithmetic (python Fractions == the reference's ExactFloat for
sign purposes), then Simulation-of-Simplicity symbolic perturbation:

- triage/stable/exact/SoS: dilivia/s2/S2Predicates.kt:89-440
- crossingSign:            dilivia/s2/edge/S2EdgeCrosser.kt:231-341
- vertexCrossing:          dilivia/s2/edge/S2EdgeCrossings.kt:146-222
- orderedCCW:              dilivia/s2/S2Predicates.kt:446-458
- origin / ortho:          dilivia/s2/S2Point.kt:40-90
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np

DBL_EPS = 2.220446049250313e-16
MAX_DET_ERROR = 1.8274 * DBL_EPS          # S2Predicates.kt:140
DET_ERROR_MULTIPLIER = 3.2321 * DBL_EPS   # stableSign, S2Predicates.kt:229

# Fixed origin for crossing-parity PIP (S2Point.kt:55-57)
ORIGIN = np.array([-0.0099994664350250197,
                   0.0025924542609324121,
                   0.99994664350250195], dtype=np.float64)


def ortho(a: np.ndarray) -> np.ndarray:
    """S2PointUtil.ortho (S2Point.kt:80-90), non-degenerate variant."""
    k = int(np.argmax(np.abs(a))) - 1
    if k < 0:
        k = 2
    temp = np.array([0.012, 0.0053, 0.00457])
    temp[k] = 1.0
    x = np.cross(a, temp)
    return x / np.linalg.norm(x)


# ---------------------------------------------------------------------------
# P1: sign ladder
# ---------------------------------------------------------------------------

def triage_sign_dets(dets: np.ndarray) -> np.ndarray:
    """Vectorized triage: +-1 where certain, 0 where uncertain.

    (comparison arithmetic, NOT nested np.where with python int scalars —
    the latter hits a ~200x value-based-casting slow path in numpy 1.x)
    """
    return (dets > MAX_DET_ERROR).astype(np.int8) - \
        (dets < -MAX_DET_ERROR).astype(np.int8)


def _stable_sign(a, b, c) -> int:
    ab = b - a
    bc = c - b
    ca = a - c
    ab2 = float(ab @ ab)
    bc2 = float(bc @ bc)
    ca2 = float(ca @ ca)
    if ab2 >= bc2 and ab2 >= ca2:
        det = -float(np.cross(ca, bc) @ c)
        max_error = DET_ERROR_MULTIPLIER * np.sqrt(ca2 * bc2)
    elif bc2 >= ca2:
        det = -float(np.cross(ab, ca) @ a)
        max_error = DET_ERROR_MULTIPLIER * np.sqrt(ab2 * ca2)
    else:
        det = -float(np.cross(bc, ab) @ b)
        max_error = DET_ERROR_MULTIPLIER * np.sqrt(bc2 * ab2)
    if abs(det) <= max_error:
        return 0
    return 1 if det > 0 else -1


def _frac_cross(u, v):
    return (u[1] * v[2] - u[2] * v[1],
            u[2] * v[0] - u[0] * v[2],
            u[0] * v[1] - u[1] * v[0])


def _frac_dot(u, v):
    return u[0] * v[0] + u[1] * v[1] + u[2] * v[2]


def _sgn(x) -> int:
    return (x > 0) - (x < 0)


def _symbolically_perturbed_sign(a, b, c, b_cross_c) -> int:
    """SoS decision tree, S2Predicates.kt:332-440 (requires a < b < c lex
    and exact determinant == 0)."""
    s = _sgn(b_cross_c[2])                       # da[2]
    if s:
        return s
    s = _sgn(b_cross_c[1])                       # da[1]
    if s:
        return s
    s = _sgn(b_cross_c[0])                       # da[0]
    if s:
        return s
    s = _sgn(c[0] * a[1] - c[1] * a[0])          # db[2]
    if s:
        return s
    s = _sgn(c[0])                               # db[2] * da[1]
    if s:
        return s
    s = -_sgn(c[1])                              # db[2] * da[0]
    if s:
        return s
    s = _sgn(c[2] * a[0] - c[0] * a[2])          # db[1]
    if s:
        return s
    s = _sgn(c[2])                               # db[1] * da[0]
    if s:
        return s
    s = _sgn(a[0] * b[1] - a[1] * b[0])          # dc[2]
    if s:
        return s
    s = -_sgn(b[0])                              # dc[2] * da[1]
    if s:
        return s
    s = _sgn(b[1])                               # dc[2] * da[0]
    if s:
        return s
    s = _sgn(a[0])                               # dc[2] * db[1]
    if s:
        return s
    return 1                                     # dc[2] * db[1] * da[0]


def _exact_sign(a, b, c, perturb: bool = True) -> int:
    """Exact rational determinant sign + optional SoS
    (S2Predicates.kt:257-305)."""
    pts = [tuple(float(x) for x in p) for p in (a, b, c)]
    perm_sign = 1
    pa, pb, pc = pts
    if pa > pb:
        pa, pb = pb, pa
        perm_sign = -perm_sign
    if pb > pc:
        pb, pc = pc, pb
        perm_sign = -perm_sign
    if pa > pb:
        pa, pb = pb, pa
        perm_sign = -perm_sign
    xa = tuple(Fraction(v) for v in pa)
    xb = tuple(Fraction(v) for v in pb)
    xc = tuple(Fraction(v) for v in pc)
    xb_cross_xc = _frac_cross(xb, xc)
    det = _frac_dot(xa, xb_cross_xc)
    det_sign = _sgn(det)
    if det_sign == 0 and perturb:
        det_sign = _symbolically_perturbed_sign(xa, xb, xc, xb_cross_xc)
    return perm_sign * det_sign


def expensive_sign(a, b, c, perturb: bool = True) -> int:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    c = np.asarray(c, dtype=np.float64)
    if np.array_equal(a, b) or np.array_equal(b, c) or np.array_equal(c, a):
        return 0
    s = _stable_sign(a, b, c)
    if s != 0:
        return s
    return _exact_sign(a, b, c, perturb)


def sign(a, b, c) -> int:
    """Robust scalar sign: +1 CCW, -1 CW, 0 iff two points identical.

    The triage determinant is written out component-wise: np.cross on
    3-vectors pays generic moveaxis overhead that dominated the boolean
    kernels' scalar hot path (same floating-point operations, so the
    triage value is bit-identical; borderline cases still escalate to
    expensive_sign either way)."""
    a0, a1, a2 = float(a[0]), float(a[1]), float(a[2])
    b0, b1, b2 = float(b[0]), float(b[1]), float(b[2])
    det = ((a1 * b2 - a2 * b1) * float(c[0])
           + (a2 * b0 - a0 * b2) * float(c[1])
           + (a0 * b1 - a1 * b0) * float(c[2]))
    if det > MAX_DET_ERROR:
        return 1
    if det < -MAX_DET_ERROR:
        return -1
    return expensive_sign(np.asarray(a, dtype=np.float64),
                          np.asarray(b, dtype=np.float64),
                          np.asarray(c, dtype=np.float64))


def ordered_ccw(a, b, c, o) -> bool:
    """True if edges OA, OB, OC occur in CCW order around O
    (S2Predicates.kt:446-458)."""
    total = 0
    if sign(b, o, a) >= 0:
        total += 1
    if sign(c, o, b) >= 0:
        total += 1
    if sign(a, o, c) > 0:
        total += 1
    return total >= 2


# ---------------------------------------------------------------------------
# P2/P3: crossings (scalar exact path; the vectorized fast path lives in
# pip.py and escalates to these for uncertain/degenerate pairs)
# ---------------------------------------------------------------------------

def crossing_sign(a, b, c, d) -> int:
    """+1 interior crossing, 0 shared vertex, -1 no crossing
    (S2EdgeCrosser.kt:231-341 semantics, stateless)."""
    # component comparisons instead of np.array_equal: the scalar
    # crossing ladder calls this hundreds of thousands of times in the
    # boolean split pass
    at = (float(a[0]), float(a[1]), float(a[2]))
    bt = (float(b[0]), float(b[1]), float(b[2]))
    ct = (float(c[0]), float(c[1]), float(c[2]))
    dt = (float(d[0]), float(d[1]), float(d[2]))
    if at == ct or at == dt or bt == ct or bt == dt:
        return 0
    if at == bt or ct == dt:
        return -1
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    c = np.asarray(c, dtype=np.float64)
    d = np.asarray(d, dtype=np.float64)
    acb = -sign(a, b, c)
    bda = sign(a, b, d)
    if bda != acb:
        return -1
    cbd = -sign(c, d, b)
    if cbd != acb:
        return -1
    dac = sign(c, d, a)
    return 1 if dac == acb else -1


def vertex_crossing(a, b, c, d) -> bool:
    """S2EdgeCrossings.kt:146-206."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    c = np.asarray(c, dtype=np.float64)
    d = np.asarray(d, dtype=np.float64)
    if np.array_equal(a, b) or np.array_equal(c, d):
        return False
    if np.array_equal(a, c):
        return np.array_equal(b, d) or ordered_ccw(ortho(a), d, b, a)
    if np.array_equal(b, d):
        return ordered_ccw(ortho(b), c, a, b)
    if np.array_equal(a, d):
        return np.array_equal(b, c) or ordered_ccw(ortho(a), c, b, a)
    if np.array_equal(b, c):
        return ordered_ccw(ortho(b), d, a, b)
    return False


def edge_or_vertex_crossing(a, b, c, d) -> bool:
    cs = crossing_sign(a, b, c, d)
    if cs < 0:
        return False
    if cs > 0:
        return True
    return vertex_crossing(a, b, c, d)
