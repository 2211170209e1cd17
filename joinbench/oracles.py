"""Independent oracles for the benchmark's correctness checks.

Nothing here imports the engine: point-in-polygon and nearest-neighbour
answers are recomputed in plain numpy from the inputs the engine was
given (page coordinates parsed out of the stored pages table, polygon
vertex arrays), so a wrong engine answer cannot also be the expected one.

Point-in-polygon model (S2's): a polygon is a set of oriented loops plus
a complement bit; a point is inside when it lies on the left of an odd
number of loops, the answer flipped when the bit is set.  A loop's left
side is decided by the parity of edge crossings along a great-circle arc
from a reference point whose side is known from its winding number.
"""

from __future__ import annotations

import math

import numpy as np

# S2's mean Earth radius, the one the engine reports distances in
EARTH_RADIUS_M = 6371010.0
# points closer than this angle to a polygon edge are excluded from the
# containment check and counted: float64 triage cannot decide them, and
# the engine's exact predicates may legitimately go either way
EDGE_EPS_RAD = 1e-9
# two nearest-neighbour distances closer than this are a tie; the engine
# rounds distances to the millimetre
KNN_TIE_M = 0.005

_CHUNK = 4096


def xyz(lat_deg: np.ndarray, lon_deg: np.ndarray) -> np.ndarray:
    """Unit vectors (n, 3) for latitude/longitude in degrees."""
    la = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lo = np.radians(np.asarray(lon_deg, dtype=np.float64))
    c = np.cos(la)
    return np.stack([c * np.cos(lo), c * np.sin(lo), np.sin(la)], axis=-1)


def _winding(q: np.ndarray, v: np.ndarray) -> float:
    """Winding number of loop v around point q: the sum of the signed
    angles the edges subtend at q, over 2*pi.  It equals
    left(q) - left(-q), so +1 means q is on the left and -1 on the
    right; 0 leaves the side undecided."""
    a, b = v, np.roll(v, -1, axis=0)
    sin = np.cross(a, b) @ q
    cos = np.einsum("ij,ij->i", a, b) - (a @ q) * (b @ q)
    return float(np.arctan2(sin, cos).sum() / (2.0 * math.pi))


def _fibonacci(n: int) -> np.ndarray:
    k = np.arange(n, dtype=np.float64) + 0.5
    z = 1.0 - 2.0 * k / n
    r = np.sqrt(1.0 - z * z)
    t = math.pi * (3.0 - math.sqrt(5.0)) * k
    return np.stack([r * np.cos(t), r * np.sin(t), z], axis=1)


def _edge_distance_ok(p: np.ndarray, v: np.ndarray, eps: float) -> np.ndarray:
    """False for points within `eps` radians of any edge of loop v."""
    a, b = v, np.roll(v, -1, axis=0)
    n = np.cross(a, b)
    n /= np.linalg.norm(n, axis=1, keepdims=True)
    mid = a + b
    mid /= np.linalg.norm(mid, axis=1, keepdims=True)
    half = np.arccos(np.clip(np.einsum("ij,ij->i", a, b), -1, 1)) / 2
    near_gc = np.abs(p @ n.T) < math.sin(eps)
    within = (p @ mid.T) >= np.cos(np.minimum(half + eps, math.pi))
    return ~(near_gc & within).any(axis=1)


def _crossings(r: np.ndarray, p: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Per point, the number of loop edges the arc r->p crosses in their
    interiors (the classic sign test on four triple products)."""
    c, d = v, np.roll(v, -1, axis=0)
    rp = np.cross(r, p)                     # (n, 3)
    acb = -(rp @ c.T)                       # (n, m)
    bda = rp @ d.T
    cd = np.cross(c, d)                     # (m, 3)
    cbd = -(p @ cd.T)
    dac = (cd @ r)[None, :]
    hit = (acb * bda > 0) & (acb * cbd > 0) & (acb * dac > 0)
    return hit.sum(axis=1)


class LoopOracle:
    """Left-side membership for one oriented loop of unit vectors."""

    def __init__(self, vertices: np.ndarray):
        self.v = np.asarray(vertices, dtype=np.float64)
        center = self.v.sum(axis=0)
        norm = np.linalg.norm(center)
        self.center = center / norm if norm > 1e-9 else None
        if self.center is not None:
            self.radius = float(np.arccos(np.clip(
                self.v @ self.center, -1, 1)).max())
        else:
            self.radius = math.pi
        # reference points with a known side.  Outside the bounding cap
        # of a small loop every point is on the side of the cap centre's
        # antipode, which the winding number there decides (the loop
        # winds once around the centre).  For a large loop, take spread
        # points whose own winding number decides them.
        self.small = self.center is not None and \
            self.radius < math.radians(60)
        cands: list[tuple[np.ndarray, bool]] = []
        if self.small:
            far = _winding(-self.center, self.v) > 0
            ang = self.radius + max(math.radians(0.5), self.radius / 2)
            for t in _fibonacci(64):
                axis = np.cross(self.center, t)
                if np.linalg.norm(axis) < 1e-3:
                    continue
                axis /= np.linalg.norm(axis)
                cands.append((self.center * math.cos(ang) +
                              np.cross(axis, self.center) * math.sin(ang),
                              far))
        else:
            for q in _fibonacci(256):
                w = _winding(q, self.v)
                if abs(abs(w) - 1.0) < 1e-6:
                    cands.append((q, w > 0))
        self.refs: list[tuple[np.ndarray, bool]] = []
        for q, side in cands:
            if not _edge_distance_ok(q[None, :], self.v, 1e-3)[0]:
                continue
            # distinct and far from each other's antipode, so no point is
            # near the antipode of both (an arc to the antipode of its
            # start is ill-conditioned)
            top = 1 - 1e-9 if self.small else 0.96
            if any(not -0.5 < float(q @ r) < top for r, _ in self.refs):
                continue
            self.refs.append((q, side))
            if len(self.refs) == 2:
                break
        if len(self.refs) < 2:
            raise ValueError("no reference point with a decided side")

    def left(self, p: np.ndarray, eps: float = EDGE_EPS_RAD):
        """(inside, decided): inside = p on the loop's left; decided is
        False for points within eps of an edge or where the two
        reference arcs disagree (each is ill-conditioned near the
        reference's antipode)."""
        inside = np.zeros(len(p), dtype=bool)
        decided = np.ones(len(p), dtype=bool)
        if self.small:
            near = (p @ self.center) >= math.cos(self.radius + 1e-6)
            inside[~near] = self.refs[0][1]
        else:
            near = np.ones(len(p), dtype=bool)
        idx = np.flatnonzero(near)
        for s in range(0, len(idx), _CHUNK):
            sel = idx[s:s + _CHUNK]
            q = p[sel]
            ok = _edge_distance_ok(q, self.v, eps)
            votes = []
            for r, r_in in self.refs:
                conditioned = (q @ r) > -0.99
                side = r_in ^ (_crossings(r, q, self.v) % 2 == 1)
                votes.append((side, conditioned))
            (s0, c0), (s1, c1) = votes
            side = np.where(c0, s0, s1)
            agree = ~(c0 & c1) | (s0 == s1)
            inside[sel] = side
            decided[sel] = ok & agree & (c0 | c1)
        return inside, decided


class PolygonOracle:
    """Odd number of loops with p on their left, xor `inverted` (see
    the module docstring)."""

    def __init__(self, loops: list[np.ndarray], inverted: bool = False):
        self.loops = [LoopOracle(v) for v in loops]
        self.inverted = bool(inverted)

    def contains(self, p: np.ndarray):
        inside = np.full(len(p), self.inverted, dtype=bool)
        decided = np.ones(len(p), dtype=bool)
        for lp in self.loops:
            i, d = lp.left(p)
            inside ^= i
            decided &= d
        return inside, decided


def knn(points: np.ndarray, q: np.ndarray, k: int):
    """Brute force: (indices sorted by distance, distances in metres)
    of the k nearest points to unit vector q."""
    d2 = ((points - q) ** 2).sum(axis=1)
    kk = min(k, len(points))
    idx = np.argpartition(d2, kk - 1)[:kk]
    idx = idx[np.argsort(d2[idx], kind="stable")]
    return idx, chord2_to_m(d2[idx])


def chord2_to_m(d2: np.ndarray) -> np.ndarray:
    return 2.0 * EARTH_RADIUS_M * np.arcsin(
        np.minimum(1.0, 0.5 * np.sqrt(np.asarray(d2, dtype=np.float64))))


def check_knn(points: np.ndarray, q: np.ndarray, k: int,
              got_idx: np.ndarray, got_m: np.ndarray) -> str | None:
    """None when the engine's top-k (page indices, reported metres)
    matches brute force up to ties within KNN_TIE_M; else a reason."""
    exp_idx, exp_m = knn(points, q, k)
    if len(got_idx) != len(exp_idx):
        return f"{len(got_idx)} results, expected {len(exp_idx)}"
    if len(set(got_idx.tolist())) != len(got_idx):
        return "duplicate pages in the top-k"
    kth = exp_m[-1]
    if abs(float(np.max(got_m)) - kth) > KNN_TIE_M:
        return f"k-th distance {np.max(got_m):.3f} m, expected {kth:.3f} m"
    true_m = chord2_to_m(((points[got_idx] - q) ** 2).sum(axis=1))
    if np.abs(true_m - got_m).max() > KNN_TIE_M:
        return "a reported distance differs from the page's true distance"
    if (true_m > kth + KNN_TIE_M).any():
        return "a returned page lies beyond the k-th distance"
    missing = set(exp_idx[exp_m < kth - KNN_TIE_M].tolist()) - set(
        got_idx.tolist())
    if missing:
        return f"{len(missing)} pages strictly inside the k-th distance missing"
    return None


def pip_self_check(hand_polygons: dict[str, PolygonOracle]) -> list[str]:
    """Point-in-polygon hand cases with known answers; returns the
    failures.

    hand_polygons maps 'arctic_80', 'antimeridian_diamond' and
    'paris_donut' to their oracles."""
    cases = {
        # edges are great-circle arcs, which bulge poleward between the
        # lat-80 vertices: (82, -90) is outside, (85.5, -90) inside
        "arctic_80": [((90, 0), True), ((85.5, -90), True),
                      ((82, -90), False), ((81, 90), True),
                      ((70, 0), False), ((-89, 0), False)],
        "antimeridian_diamond": [((0, 179.5), True), ((0, -179.5), True),
                                 ((0, 180), True), ((0.5, 179.9), True),
                                 ((0, 177), False), ((0, -178), False),
                                 ((1.5, 180), False)],
        "paris_donut": [((48.8566, 2.3522), False), ((51.8566, 2.3522), True),
                        ((49.3566, 2.3522), False), ((55.0, 2.3522), False),
                        ((45.0, 2.3522), True)],
    }
    fails = []
    for name, pts in cases.items():
        poly = hand_polygons[name]
        ll = np.array([p for p, _ in pts], dtype=np.float64)
        inside, decided = poly.contains(xyz(ll[:, 0], ll[:, 1]))
        for (p, want), got, dec in zip(pts, inside, decided):
            if not dec or bool(got) != want:
                fails.append(f"{name} {p}: got {bool(got)} "
                             f"(decided={bool(dec)}), want {want}")
    return fails


def knn_self_check() -> list[str]:
    """Points at known angular offsets from a query on the equator."""
    fails = []
    offs = np.array([0.5, 0.1, 2.0, 0.3, 1.0])
    pts = xyz(np.zeros(5), offs)
    idx, m = knn(pts, xyz([0.0], [0.0])[0], 3)
    want_m = np.radians([0.1, 0.3, 0.5]) * EARTH_RADIUS_M
    if idx.tolist() != [1, 3, 0] or np.abs(m - want_m).max() > 1e-3:
        fails.append(f"knn hand case: {idx.tolist()} {m.tolist()}")
    q = xyz([0.0], [0.0])[0]
    if check_knn(pts, q, 3, np.array([1, 3, 0]), want_m) is not None:
        fails.append("check_knn rejects the right answer")
    if check_knn(pts, q, 3, np.array([1, 3, 4]), want_m) is None:
        fails.append("check_knn accepts a wrong answer")
    return fails
