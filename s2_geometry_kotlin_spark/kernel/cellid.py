"""Vectorized S2 cell-id kernel (numpy, uint64).

Re-implements the *semantics* of the reference Kotlin library's cell-id
codec as branch-free numpy array kernels (operators E1-E17 of SURVEY.md §2.1):

- lat/lng -> unit xyz          (reference dilivia/s2/S2LatLng.kt:155-160)
- xyz -> face,u,v              (dilivia/s2/coords/S2Coords.kt:403-419)
- quadratic uv<->st projection (dilivia/s2/coords/S2QuadraticProjection.kt:36-44)
- st -> ij discretization      (S2Coords.kt:256)
- Hilbert encode/decode        (dilivia/s2/S2CellId.kt:1081-1110, 808-849)
- level/parent/children/ranges (S2CellId.kt:230-238, 356-456, 311-319)
- tokens                       (S2CellId.kt:638-654, 1032-1047)
- neighbors                    (S2CellId.kt:683-796, 1148-1185)

All ids are numpy uint64 with the same bit pattern as the reference's
ULong.  At the Spark boundary they are reinterpreted as int64
(``.view(np.int64)``); range containment via signed BETWEEN stays correct
because a cell's [range_min, range_max] never crosses the sign boundary
(the sign bit is the high face bit, constant within a face).

``st_to_ij`` uses ``clip(floor(2^30 * s))`` which is algebraically equal to
the reference's ``clip(round_half_away(2^30*s - 0.5))`` for all inputs that
survive the clip, and is exactly expressible in SQL for the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np

from .tables import INVERT_MASK, LOOKUP_IJ, LOOKUP_POS, SWAP_MASK

MAX_LEVEL = 30
NUM_FACES = 6
POS_BITS = 2 * MAX_LEVEL + 1  # 61
FACE_BITS = 3
LIMIT_IJ = 1 << MAX_LEVEL  # 2^30
MAX_SIZE = LIMIT_IJ

_U = np.uint64
_ONE = _U(1)
_TWO = _U(2)
_THREE = _U(3)


def _as_u64(ids) -> np.ndarray:
    a = np.asarray(ids)
    if a.dtype == np.int64:
        return a.view(np.uint64)
    return a.astype(np.uint64, copy=False)


def to_signed(ids) -> np.ndarray:
    """uint64 bit pattern -> int64 view (Spark LongType representation)."""
    return _as_u64(ids).view(np.int64)


# ---------------------------------------------------------------------------
# E1: lat/lng (degrees) -> unit xyz  (S2LatLng.kt:155-160)
# ---------------------------------------------------------------------------

def latlng_deg_to_xyz(lat_deg, lon_deg):
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    theta = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cos_phi = np.cos(phi)
    return np.cos(theta) * cos_phi, np.sin(theta) * cos_phi, np.sin(phi)


def xyz_to_latlng_deg(x, y, z):
    lat = np.arctan2(z, np.sqrt(x * x + y * y))
    lon = np.arctan2(y, x)
    return np.degrees(lat), np.degrees(lon)


# ---------------------------------------------------------------------------
# E2: xyz -> face,u,v  (S2Coords.kt:403-419, validFaceXyzToUv:343-359)
# ---------------------------------------------------------------------------

def xyz_to_face_uv(x, y, z):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # largestAbsComponent tie-breaking exactly as the reference:
    # if ax > ay: (0 if ax > az else 2) else (1 if ay > az else 2)
    # (arithmetic instead of nested scalar np.where — see predicates.py)
    c_x = (ax > ay) & (ax > az)
    c_y = ~(ax > ay) & (ay > az)
    axis = (2 - 2 * c_x.astype(np.int64) - c_y.astype(np.int64))
    comp = np.select([axis == 0, axis == 1], [x, y], z)
    face = axis + (comp < 0).astype(np.int64) * 3

    fsel = [face == f for f in range(6)]
    u_num = np.select(fsel, [y, -x, -x, z, z, -y])
    v_num = np.select(fsel, [z, z, -y, y, -x, -x])
    u = u_num / comp
    v = v_num / comp
    return face, u, v


def face_uv_to_xyz(face, u, v):
    """(S2Coords.kt faceUvToXyz) face,u,v -> xyz (not normalized)."""
    face = np.asarray(face)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    xs = [one, -u, -u, -one, v, v]
    ys = [u, one, -v, -v, -one, u]
    zs = [v, v, one, -u, -u, -one]
    x = np.select([face == f for f in range(6)], xs)
    y = np.select([face == f for f in range(6)], ys)
    z = np.select([face == f for f in range(6)], zs)
    return x, y, z


# ---------------------------------------------------------------------------
# E3: quadratic projection  (S2QuadraticProjection.kt:36-44)
# ---------------------------------------------------------------------------

def uv_to_st(u):
    u = np.asarray(u, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0.0,
                        0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5,
                    (1.0 / 3.0) * (4.0 * s * s - 1.0),
                    (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


# ---------------------------------------------------------------------------
# E4: st -> ij  (S2Coords.kt:256)
# ---------------------------------------------------------------------------

def st_to_ij(s):
    return np.clip(np.floor(LIMIT_IJ * np.asarray(s, dtype=np.float64)),
                   0, LIMIT_IJ - 1).astype(np.int64)


def ij_to_st_min(i):
    return (1.0 / LIMIT_IJ) * np.asarray(i, dtype=np.float64)


# ---------------------------------------------------------------------------
# E5: face,i,j -> cell id (Hilbert encode, S2CellId.kt:1081-1110)
# ---------------------------------------------------------------------------

def from_face_ij(face, i, j) -> np.ndarray:
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    n = face.astype(np.uint64) << _U(POS_BITS - 1)
    bits = (face & 1).astype(np.uint64)  # face & SWAP_MASK
    for k in range(7, -1, -1):
        mask = np.int64((1 << 4) - 1)
        bits = bits + (((i >> np.int64(k * 4)) & mask).astype(np.uint64) << _U(6))
        bits = bits + (((j >> np.int64(k * 4)) & mask).astype(np.uint64) << _U(2))
        bits = LOOKUP_POS[bits].astype(np.uint64)
        n = n | ((bits >> _TWO) << _U(k * 8))
        bits = bits & _THREE
    return n * _TWO + _ONE


def from_face(face) -> np.ndarray:
    """Cell id of an entire face (level 0).  S2CellId.fromFace."""
    return (np.asarray(face, dtype=np.uint64) << _U(POS_BITS)) + lsb_for_level(0)


def from_face_pos_level(face, pos, level) -> np.ndarray:
    raw = (np.asarray(face, dtype=np.uint64) << _U(POS_BITS)) + \
        (_as_u64(pos) | _ONE)
    return parent(raw, level)


# ---------------------------------------------------------------------------
# E8: lat/lng -> leaf cell id  (S2CellId.kt:1216-1227)
# ---------------------------------------------------------------------------

def from_latlng_deg(lat_deg, lon_deg) -> np.ndarray:
    x, y, z = latlng_deg_to_xyz(lat_deg, lon_deg)
    return from_xyz(x, y, z)


def from_xyz(x, y, z) -> np.ndarray:
    face, u, v = xyz_to_face_uv(x, y, z)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    return from_face_ij(face, i, j)


# ---------------------------------------------------------------------------
# E6: decode  (S2CellId.kt:808-849)
# ---------------------------------------------------------------------------

def to_face_ij_orientation(ids, compute_orientation: bool = False):
    ids = _as_u64(ids)
    face = (ids >> _U(POS_BITS)).astype(np.int64)
    bits = (face & 1).astype(np.uint64)
    i = np.zeros(ids.shape, dtype=np.int64)
    j = np.zeros(ids.shape, dtype=np.int64)
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * 4) if k == 7 else 4
        bits = bits + ((((ids >> _U(k * 8 + 1)) &
                         _U((1 << (2 * nbits)) - 1)) << _TWO))
        bits = LOOKUP_IJ[bits].astype(np.uint64)
        i += (bits >> _U(6)).astype(np.int64) << np.int64(k * 4)
        j += ((bits >> _TWO) & _U(15)).astype(np.int64) << np.int64(k * 4)
        bits = bits & _THREE
    if not compute_orientation:
        return face, i, j
    swap = (lsb(ids) & _U(0x1111111111111110)) != 0
    orientation = np.where(swap, bits ^ _U(SWAP_MASK), bits).astype(np.int64)
    return face, i, j, orientation


# ---------------------------------------------------------------------------
# E9-E13: bit-level structure
# ---------------------------------------------------------------------------

def lsb(ids) -> np.ndarray:
    ids = _as_u64(ids)
    return ids & (~ids + _ONE)


def lsb_for_level(level) -> np.ndarray:
    shift = (2 * (MAX_LEVEL - np.asarray(level, dtype=np.int64))).astype(np.uint64)
    return _ONE << shift


def level(ids) -> np.ndarray:
    """S2CellId.kt:230-238; id must be nonzero."""
    p = lsb(ids)
    # p is an exact power of two -> float64 log2 is exact
    tz = np.log2(p.astype(np.float64)).astype(np.int64)
    return MAX_LEVEL - (tz >> 1)


def is_leaf(ids) -> np.ndarray:
    return (_as_u64(ids) & _ONE) != 0


def is_valid(ids) -> np.ndarray:
    ids = _as_u64(ids)
    face_ok = (ids >> _U(POS_BITS)) < _U(NUM_FACES)
    return face_ok & ((lsb(ids) & _U(0x1555555555555555)) != 0)


def parent(ids, lvl) -> np.ndarray:
    ids = _as_u64(ids)
    new_lsb = lsb_for_level(lvl)
    return (ids & (~new_lsb + _ONE)) | new_lsb


def immediate_parent(ids) -> np.ndarray:
    ids = _as_u64(ids)
    new_lsb = lsb(ids) << _TWO
    return (ids & (~new_lsb + _ONE)) | new_lsb


def child(ids, pos) -> np.ndarray:
    ids = _as_u64(ids)
    new_lsb = (lsb(ids) >> _TWO).view(np.int64)
    delta = (2 * np.asarray(pos, dtype=np.int64) - 3) * new_lsb
    return (ids.view(np.int64) + delta).view(np.uint64)


def child_begin(ids, lvl=None) -> np.ndarray:
    ids = _as_u64(ids)
    old = lsb(ids)
    new = (old >> _TWO) if lvl is None else lsb_for_level(lvl)
    return ids - old + new


def child_end(ids, lvl=None) -> np.ndarray:
    ids = _as_u64(ids)
    old = lsb(ids)
    new = (old >> _TWO) if lvl is None else lsb_for_level(lvl)
    return ids + old + new


def range_min(ids) -> np.ndarray:
    ids = _as_u64(ids)
    return ids - (lsb(ids) - _ONE)


def range_max(ids) -> np.ndarray:
    ids = _as_u64(ids)
    return ids + (lsb(ids) - _ONE)


def contains(a, b) -> np.ndarray:
    """True where cell a contains cell b (S2CellId.kt:333-337)."""
    b = _as_u64(b)
    return (b >= range_min(a)) & (b <= range_max(a))


def intersects(a, b) -> np.ndarray:
    a, b = _as_u64(a), _as_u64(b)
    return (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


def next_id(ids) -> np.ndarray:
    ids = _as_u64(ids)
    return ids + (lsb(ids) << _ONE)


def prev_id(ids) -> np.ndarray:
    ids = _as_u64(ids)
    return ids - (lsb(ids) << _ONE)


_WRAP_OFFSET = np.uint64(NUM_FACES) << _U(POS_BITS)


def advance(ids, n) -> np.ndarray:
    """Hilbert-order advance with clamping at begin/end (S2CellId.kt:464-567)."""
    ids = _as_u64(ids)
    n = np.asarray(n, dtype=np.int64)
    step_shift = np.log2((lsb(ids) << _ONE).astype(np.float64)).astype(np.int64)
    # clamp: position is id >> step_shift; limits [0, wrap >> step_shift]
    pos = (ids >> step_shift.astype(np.uint64)).astype(np.int64)
    max_pos = (_WRAP_OFFSET >> step_shift.astype(np.uint64)).astype(np.int64)
    n = np.clip(n, -pos, max_pos - pos)
    return ids + (n.astype(np.uint64) << step_shift.astype(np.uint64))


def advance_wrap(ids, n) -> np.ndarray:
    ids = _as_u64(ids)
    n = np.asarray(n, dtype=np.int64)
    step_shift = np.log2((lsb(ids) << _ONE).astype(np.float64)).astype(np.int64)
    period = (_WRAP_OFFSET >> step_shift.astype(np.uint64)).astype(np.int64)
    pos = (ids >> step_shift.astype(np.uint64)).astype(np.int64)
    new_pos = np.mod(pos + n, period)
    low = ids & ((_ONE << step_shift.astype(np.uint64)) - _ONE)
    return (new_pos.astype(np.uint64) << step_shift.astype(np.uint64)) | low


def distance_from_begin(ids) -> np.ndarray:
    ids = _as_u64(ids)
    step = lsb(ids) << _ONE
    return (ids // step).astype(np.int64)


def begin(lvl) -> np.ndarray:
    return child_begin(from_face(0), lvl)


def end(lvl) -> np.ndarray:
    return child_end(from_face(5), lvl)


def common_ancestor_level(a, b) -> np.ndarray:
    """S2CellId.getCommonAncestorLevel — -1 if none."""
    a, b = _as_u64(a), _as_u64(b)
    bits = np.maximum(a ^ b, np.maximum(lsb(a), lsb(b)))
    # MSB index via bit smearing (exact for any uint64)
    v = bits.copy()
    for s in (1, 2, 4, 8, 16, 32):
        v = v | (v >> _U(s))
    msb_pow = (v >> _ONE) + _ONE  # == 2^msb exactly
    msb = np.log2(msb_pow.astype(np.float64)).astype(np.int64)
    return np.maximum(60 - msb, -1) >> 1


# ---------------------------------------------------------------------------
# E7: cell center  (S2CellId.kt:170-199, S2Coords.kt faceSiTiToXyz:467-471)
# ---------------------------------------------------------------------------

def center_si_ti(ids):
    ids = _as_u64(ids)
    face, i, j = to_face_ij_orientation(ids)
    leaf = is_leaf(ids)
    second = ((i ^ (ids.astype(np.int64) >> np.int64(2))) & 1) != 0
    delta = leaf.astype(np.int64) + \
        ((~leaf) & second).astype(np.int64) * 2
    return face, 2 * i + delta, 2 * j + delta


def si_ti_to_st(si):
    return (1.0 / (2.0 * MAX_SIZE)) * np.asarray(si, dtype=np.float64)


MAX_SI_TI = np.uint64(1) << np.uint64(31)  # 2 * MAX_SIZE


def sc_st_to_si_ti(s: float) -> int:
    """S2Coords.stToSiTi: round to the si/ti grid (S2Coords.kt:276)."""
    return int(round(s * float(MAX_SI_TI)))


def sc_face_si_ti_to_xyz(face: int, si: int, ti: int):
    """(face, si, ti) -> direction vector (S2Coords.faceSiTiToXyz)."""
    # (1/kMaxSiTi) * si, NOT si/kMaxSiTi: must round identically to
    # siTiToSt everywhere centers are computed (bitwise center equality)
    u = sc_st_to_uv((1.0 / float(MAX_SI_TI)) * si)
    v = sc_st_to_uv((1.0 / float(MAX_SI_TI)) * ti)
    return sc_face_uv_to_xyz(face, u, v)


def sc_xyz_to_face_si_ti(p) -> tuple[int, int, int, int]:
    """S2Coords.xyzToFaceSiTi (S2Coords.kt:428-449): returns
    (level, face, si, ti) where level is the cell level whose CENTER is
    exactly p, or -1 if p is not a cell center.  The center comparison
    is exact: centers are recomputed through the same
    faceSiTiToXyz + normalize pipeline that produced them."""
    x, y, z = float(p[0]), float(p[1]), float(p[2])
    face, u, v = sc_xyz_to_face_uv(x, y, z)
    si = sc_st_to_si_ti(sc_uv_to_st(u))
    ti = sc_st_to_si_ti(sc_uv_to_st(v))
    max_st = int(MAX_SI_TI)

    def trailing_zeros(n: int) -> int:
        return (n & -n).bit_length() - 1

    level = 30 - trailing_zeros(si | max_st)
    if level < 0 or level != 30 - trailing_zeros(ti | max_st):
        return -1, face, si, ti
    cx, cy, cz = sc_face_si_ti_to_xyz(face, si, ti)
    n = float(np.sqrt(cx * cx + cy * cy + cz * cz))
    if (x, y, z) == (cx / n, cy / n, cz / n):
        return level, face, si, ti
    return -1, face, si, ti


def to_xyz_raw(ids):
    """Cell center direction vector, not normalized."""
    face, si, ti = center_si_ti(ids)
    u = st_to_uv(si_ti_to_st(si))
    v = st_to_uv(si_ti_to_st(ti))
    return face_uv_to_xyz(face, u, v)


def to_xyz(ids):
    x, y, z = to_xyz_raw(ids)
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def to_latlng_deg(ids):
    x, y, z = to_xyz_raw(ids)
    return xyz_to_latlng_deg(x, y, z)


def bound_uv(ids):
    """(u_lo, u_hi, v_lo, v_hi) of each cell (S2CellId.ijLevelToBoundUV)."""
    ids = np.atleast_1d(_as_u64(ids))
    face, i, j = to_face_ij_orientation(ids)
    size = get_size_ij(level(ids))
    i_lo = i & -size
    j_lo = j & -size
    u_lo = st_to_uv(ij_to_st_min(i_lo))
    u_hi = st_to_uv(ij_to_st_min(i_lo + size))
    v_lo = st_to_uv(ij_to_st_min(j_lo))
    v_hi = st_to_uv(ij_to_st_min(j_lo + size))
    return u_lo, u_hi, v_lo, v_hi


def cell_vertices(ids) -> np.ndarray:
    """(n, 4, 3) normalized corner vertices in CCW order
    (S2Cell.getVertex: lower-left, lower-right, upper-right, upper-left)."""
    ids = np.atleast_1d(_as_u64(ids))
    face = (ids >> _U(POS_BITS)).astype(np.int64)
    u_lo, u_hi, v_lo, v_hi = bound_uv(ids)
    out = np.empty((len(ids), 4, 3), dtype=np.float64)
    corners = [(u_lo, v_lo), (u_hi, v_lo), (u_hi, v_hi), (u_lo, v_hi)]
    for k, (uu, vv) in enumerate(corners):
        x, y, z = face_uv_to_xyz(face, uu, vv)
        n = np.sqrt(x * x + y * y + z * z)
        out[:, k, 0] = x / n
        out[:, k, 1] = y / n
        out[:, k, 2] = z / n
    return out


# ---------------------------------------------------------------------------
# E15: tokens  (S2CellId.kt:638-654, 1032-1047)
# ---------------------------------------------------------------------------

def to_token(ids) -> np.ndarray:
    ids = np.atleast_1d(_as_u64(ids))
    out = []
    for v in ids.tolist():
        if v == 0:
            out.append("X")
            continue
        h = format(v, "016x")
        out.append(h.rstrip("0") or "0")
    return np.array(out, dtype=object)


def from_token(tokens) -> np.ndarray:
    out = np.zeros(len(tokens), dtype=np.uint64)
    for idx, t in enumerate(tokens):
        if not isinstance(t, str) or not (0 < len(t) <= 16) or t == "X":
            if t == "X":
                out[idx] = 0
            continue
        try:
            bytes.fromhex(t.ljust(16, "0"))
        except ValueError:
            continue
        if any(c not in "0123456789abcdefABCDEF" for c in t):
            continue
        out[idx] = np.uint64(int(t.ljust(16, "0"), 16))
    return out


def to_debug_string(ids) -> np.ndarray:
    ids = np.atleast_1d(_as_u64(ids))
    faces = (ids >> _U(POS_BITS)).astype(np.int64)
    lvls = level(ids)
    out = []
    for v, f, lv in zip(ids.tolist(), faces.tolist(), lvls.tolist()):
        s = f"{f}/"
        for cl in range(1, lv + 1):
            s += "0123"[(v >> (2 * (MAX_LEVEL - cl) + 1)) & 3]
        out.append(s)
    return np.array(out, dtype=object)


def from_debug_string(strings) -> np.ndarray:
    out = np.zeros(len(strings), dtype=np.uint64)
    for idx, s in enumerate(strings):
        if len(s) < 2 or s[1] != "/" or s[0] not in "012345":
            continue
        cid = int(from_face(int(s[0])))
        ok = True
        for c in s[2:]:
            if c not in "0123":
                ok = False
                break
            cid = int(child(np.uint64(cid), int(c)))
        if ok:
            out[idx] = cid
    return out


# ---------------------------------------------------------------------------
# E16: neighbors  (S2CellId.kt:683-796, fromFaceIJWrap:1148-1185)
# ---------------------------------------------------------------------------

def get_size_ij(lvl) -> np.ndarray:
    return np.int64(1) << (MAX_LEVEL - np.asarray(lvl, dtype=np.int64))


_K_SCALE = 1.0 / MAX_SIZE
_K_LIMIT = 1.0 + np.finfo(np.float64).eps


def _from_face_ij_wrap(face, i, j) -> np.ndarray:
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    u = np.clip(_K_SCALE * (2.0 * (i - MAX_SIZE // 2) + 1.0), -_K_LIMIT, _K_LIMIT)
    v = np.clip(_K_SCALE * (2.0 * (j - MAX_SIZE // 2) + 1.0), -_K_LIMIT, _K_LIMIT)
    x, y, z = face_uv_to_xyz(face, u, v)
    nface, nu, nv = xyz_to_face_uv(x, y, z)
    return from_face_ij(nface, st_to_ij(0.5 * (nu + 1.0)), st_to_ij(0.5 * (nv + 1.0)))


def _from_face_ij_same(face, i, j, same) -> np.ndarray:
    same = np.asarray(same, dtype=bool)
    out = np.empty(np.broadcast(face, i, j).shape, dtype=np.uint64)
    face, i, j = np.broadcast_arrays(np.asarray(face, dtype=np.int64),
                                     np.asarray(i, dtype=np.int64),
                                     np.asarray(j, dtype=np.int64))
    if np.any(same):
        out[same] = from_face_ij(face[same], i[same], j[same])
    inv = ~same
    if np.any(inv):
        out[inv] = _from_face_ij_wrap(face[inv], i[inv], j[inv])
    return out


def get_edge_neighbors(ids) -> np.ndarray:
    """4 edge neighbors per cell -> shape (n, 4)  (S2CellId.kt:683-698)."""
    ids = np.atleast_1d(_as_u64(ids))
    lvl = level(ids)
    size = get_size_ij(lvl)
    face, i, j = to_face_ij_orientation(ids)
    down = parent(_from_face_ij_same(face, i, j - size, j - size >= 0), lvl)
    right = parent(_from_face_ij_same(face, i + size, j, i + size < MAX_SIZE), lvl)
    up = parent(_from_face_ij_same(face, i, j + size, j + size < MAX_SIZE), lvl)
    left = parent(_from_face_ij_same(face, i - size, j, i - size >= 0), lvl)
    return np.stack([down, right, up, left], axis=1)


# --- scalar (python int/float) helpers for covering-side work ---
# Pure-python implementations: ~100x faster than 1-element numpy calls,
# which matters because the coverer visits thousands of cells per region.

_LOOKUP_POS_L = LOOKUP_POS.tolist()
_LOOKUP_IJ_L = LOOKUP_IJ.tolist()


def sc_lsb(cid: int) -> int:
    return cid & (-cid & 0xFFFFFFFFFFFFFFFF)


def sc_level(cid: int) -> int:
    return MAX_LEVEL - (sc_lsb(cid).bit_length() - 1) // 2


def sc_parent(cid: int, lvl: int) -> int:
    nl = 1 << (2 * (MAX_LEVEL - lvl))
    return (cid & (~(nl - 1) & 0xFFFFFFFFFFFFFFFF)) | nl


def sc_range_min(cid: int) -> int:
    return cid - (sc_lsb(cid) - 1)


def sc_range_max(cid: int) -> int:
    return cid + (sc_lsb(cid) - 1)


def sc_child(cid: int, pos: int) -> int:
    nl = sc_lsb(cid) >> 2
    return cid + (2 * pos + 1 - 4) * nl


def sc_from_face_ij(face: int, i: int, j: int) -> int:
    """Pure-python fromFaceIJ (S2CellId.kt:1081-1110)."""
    n = face << 60
    bits = face & 1
    for k in range(7, -1, -1):
        bits += ((i >> (k * 4)) & 15) << 6
        bits += ((j >> (k * 4)) & 15) << 2
        bits = _LOOKUP_POS_L[bits]
        n |= (bits >> 2) << (k * 8)
        bits &= 3
    return n * 2 + 1


def sc_from_face_ij_same(face: int, i: int, j: int, same: bool) -> int:
    if same:
        return sc_from_face_ij(face, i, j)
    return _sc_from_face_ij_wrap(face, i, j)


def _sc_from_face_ij_wrap(face: int, i: int, j: int) -> int:
    """Pure-python fromFaceIJWrap (S2CellId.kt:1148-1185)."""
    i = max(-1, min(MAX_SIZE, i))
    j = max(-1, min(MAX_SIZE, j))
    u = max(-_K_LIMIT, min(_K_LIMIT, _K_SCALE * (2.0 * (i - MAX_SIZE // 2) + 1.0)))
    v = max(-_K_LIMIT, min(_K_LIMIT, _K_SCALE * (2.0 * (j - MAX_SIZE // 2) + 1.0)))
    x, y, z = sc_face_uv_to_xyz(face, u, v)
    nface, nu, nv = sc_xyz_to_face_uv(x, y, z)
    return sc_from_face_ij(nface, sc_st_to_ij(0.5 * (nu + 1.0)),
                           sc_st_to_ij(0.5 * (nv + 1.0)))


def sc_to_face_ij(cid: int) -> tuple[int, int, int]:
    """Pure-python toFaceIJOrientation (S2CellId.kt:808-849)."""
    face = cid >> POS_BITS
    bits = face & 1
    i = 0
    j = 0
    for k in range(7, -1, -1):
        nbits = 2 if k == 7 else 4
        bits += ((cid >> (k * 8 + 1)) & ((1 << (2 * nbits)) - 1)) << 2
        bits = _LOOKUP_IJ_L[bits]
        i += (bits >> 6) << (k * 4)
        j += ((bits >> 2) & 15) << (k * 4)
        bits &= 3
    return face, i, j


# scalar float coordinate transforms
_XYZ_TABLE = (
    lambda u, v: (1.0, u, v),
    lambda u, v: (-u, 1.0, v),
    lambda u, v: (-u, -v, 1.0),
    lambda u, v: (-1.0, -v, -u),
    lambda u, v: (v, -1.0, -u),
    lambda u, v: (v, u, -1.0),
)


def sc_face_uv_to_xyz(face: int, u: float, v: float):
    return _XYZ_TABLE[face](u, v)


def sc_xyz_to_face_uv(x: float, y: float, z: float):
    ax, ay, az = abs(x), abs(y), abs(z)
    if ax > ay:
        axis = 0 if ax > az else 2
    else:
        axis = 1 if ay > az else 2
    comp = (x, y, z)[axis]
    face = axis + 3 if comp < 0 else axis
    u_num = (y, -x, -x, z, z, -y)[face]
    v_num = (z, z, -y, y, -x, -x)[face]
    return face, u_num / comp, v_num / comp


def sc_uv_to_st(u: float) -> float:
    import math
    if u >= 0.0:
        return 0.5 * math.sqrt(1.0 + 3.0 * u)
    return 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)


def sc_st_to_uv(s: float) -> float:
    if s >= 0.5:
        return (1.0 / 3.0) * (4.0 * s * s - 1.0)
    return (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))


def sc_st_to_ij(s: float) -> int:
    import math
    return max(0, min(LIMIT_IJ - 1, int(math.floor(LIMIT_IJ * s))))


def sc_ij_to_st_min(i: int) -> float:
    return (1.0 / LIMIT_IJ) * i


def sc_bound_uv(cid: int) -> tuple[float, float, float, float]:
    """(u_lo, u_hi, v_lo, v_hi) — scalar ijLevelToBoundUV."""
    face, i, j = sc_to_face_ij(cid)
    size = 1 << (MAX_LEVEL - sc_level(cid))
    i_lo = i & -size
    j_lo = j & -size
    return (sc_st_to_uv(sc_ij_to_st_min(i_lo)),
            sc_st_to_uv(sc_ij_to_st_min(i_lo + size)),
            sc_st_to_uv(sc_ij_to_st_min(j_lo)),
            sc_st_to_uv(sc_ij_to_st_min(j_lo + size)))


def sc_center_xyz(cid: int) -> tuple[float, float, float]:
    """Normalized cell center (scalar centerSiTi -> faceSiTiToXyz)."""
    import math
    face, i, j = sc_to_face_ij(cid)
    if cid & 1:
        delta = 1
    elif ((i ^ (cid >> 2)) & 1) != 0:
        delta = 2
    else:
        delta = 0
    si = 2 * i + delta
    ti = 2 * j + delta
    u = sc_st_to_uv((1.0 / (2.0 * MAX_SIZE)) * si)
    v = sc_st_to_uv((1.0 / (2.0 * MAX_SIZE)) * ti)
    x, y, z = sc_face_uv_to_xyz(face, u, v)
    n = math.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def get_vertex_neighbors(cid: int, lvl: int) -> list[int]:
    """3-4 neighbor ids of the closest vertex, at level lvl < level(cid).

    (S2CellId.kt:711-749 appendVertexNeighbors)
    """
    face, i, j = sc_to_face_ij(cid)
    halfsize = int(get_size_ij(lvl + 1))
    size = halfsize << 1
    if i & halfsize:
        ioffset, isame = size, (i + size) < MAX_SIZE
    else:
        ioffset, isame = -size, (i - size) >= 0
    if j & halfsize:
        joffset, jsame = size, (j + size) < MAX_SIZE
    else:
        joffset, jsame = -size, (j - size) >= 0
    out = [sc_parent(cid, lvl),
           sc_parent(sc_from_face_ij_same(face, i + ioffset, j, isame), lvl),
           sc_parent(sc_from_face_ij_same(face, i, j + joffset, jsame), lvl)]
    if isame or jsame:
        out.append(sc_parent(sc_from_face_ij_same(
            face, i + ioffset, j + joffset, isame and jsame), lvl))
    return out


def get_all_neighbors(cid: int, nbr_level: int) -> list[int]:
    """All neighbors at nbr_level >= level(cid).

    (S2CellId.kt:762-796 appendAllNeighbors; may contain duplicates near
    face vertices, exactly like the reference.)
    """
    face, i, j = sc_to_face_ij(cid)
    size = int(get_size_ij(sc_level(cid)))
    i &= -size
    j &= -size
    nbr_size = int(get_size_ij(nbr_level))
    out: list[int] = []
    k = -nbr_size
    while True:
        if k < 0:
            same_face = (j + k >= 0)
        elif k >= size:
            same_face = (j + k) < MAX_SIZE
        else:
            same_face = True
            out.append(sc_parent(sc_from_face_ij_same(
                face, i + k, j - nbr_size, j - size >= 0), nbr_level))
            out.append(sc_parent(sc_from_face_ij_same(
                face, i + k, j + size, j + size < MAX_SIZE), nbr_level))
        out.append(sc_parent(sc_from_face_ij_same(
            face, i - nbr_size, j + k, same_face and i - size >= 0), nbr_level))
        out.append(sc_parent(sc_from_face_ij_same(
            face, i + size, j + k, same_face and i + size < MAX_SIZE), nbr_level))
        if k >= size:
            break
        k += nbr_size
    return out


def get_edge_neighbors_sc(cid: int) -> list[int]:
    """4 edge neighbors (scalar variant of get_edge_neighbors)."""
    lvl = sc_level(cid)
    size = int(get_size_ij(lvl))
    face, i, j = sc_to_face_ij(cid)
    return [
        sc_parent(sc_from_face_ij_same(face, i, j - size, j - size >= 0), lvl),
        sc_parent(sc_from_face_ij_same(face, i + size, j, i + size < MAX_SIZE), lvl),
        sc_parent(sc_from_face_ij_same(face, i, j + size, j + size < MAX_SIZE), lvl),
        sc_parent(sc_from_face_ij_same(face, i - size, j, i - size >= 0), lvl),
    ]


# ---------------------------------------------------------------------------
# E17: expandedByDistanceUV  (S2CellId.kt:977-1009)
# ---------------------------------------------------------------------------

def _expand_endpoint(u: float, max_v: float, sin_dist: float) -> float:
    """Spherical-right-triangle endpoint shift (S2CellId.kt:1003-1009):
    u' such that the line u=u' is exactly sin_dist from edge (u,v0)-(u,v1)
    with max|v| = max_v; expansion of tan(atan(u) + asin(sin_u_shift))."""
    import math
    sin_u_shift = sin_dist * math.sqrt(
        (1 + u * u + max_v * max_v) / (1 + u * u))
    cos_u_shift = math.sqrt(1 - sin_u_shift * sin_u_shift)
    return (cos_u_shift * u + sin_u_shift) / (cos_u_shift - sin_u_shift * u)


def expanded_by_distance_uv(uv: tuple[float, float, float, float],
                            distance_rad: float):
    """E17: expand a face uv-rect so it contains all points within
    `distance_rad` of the original rect (S2CellId.expandedByDistanceUV,
    S2CellId.kt:977-1001).  uv = (u_lo, u_hi, v_lo, v_hi)."""
    import math
    u0, u1, v0, v1 = uv
    max_u = max(abs(u0), abs(u1))
    max_v = max(abs(v0), abs(v1))
    sin_dist = math.sin(distance_rad)
    return (_expand_endpoint(u0, max_v, -sin_dist),
            _expand_endpoint(u1, max_v, sin_dist),
            _expand_endpoint(v0, max_u, -sin_dist),
            _expand_endpoint(v1, max_u, sin_dist))


# ---------------------------------------------------------------------------
# M5: cell areas (region/S2Cell.kt:205-250)
# ---------------------------------------------------------------------------

def cell_average_area(lvl: int) -> float:
    from . import metrics
    return metrics.AVG_AREA.get_value(lvl)


def cell_approx_area(cid: int) -> float:
    """S2Cell.approxArea (S2Cell.kt:213-235): flat quadrilateral area
    corrected as a spherical cap; within 3% everywhere."""
    import math
    lvl = sc_level(cid)
    if lvl < 2:
        return cell_average_area(lvl)
    v = cell_vertices(np.array([cid], dtype=np.uint64))[0]
    flat = 0.5 * float(np.linalg.norm(np.cross(v[2] - v[0], v[3] - v[1])))
    return flat * 2 / (1 + math.sqrt(1 - min(flat / math.pi, 1.0)))


def cell_exact_area(cid: int) -> float:
    """S2Cell.exactArea (S2Cell.kt:240-250): sum of the two vertex
    triangles (stable at all levels, unlike the 4-asin closed form)."""
    from . import measures
    v = cell_vertices(np.array([cid], dtype=np.uint64))[0]
    return measures.triangle_area(v[0], v[1], v[2]) + \
        measures.triangle_area(v[0], v[2], v[3])


# ---------------------------------------------------------------------------
# E14: maximumTile  (S2CellId.kt:587-609)
# ---------------------------------------------------------------------------

def maximum_tile(cid: int, limit: int) -> int:
    """Largest cell with range_min == cid.range_min and range_max < limit."""
    start = sc_range_min(cid)
    if start >= sc_range_min(limit):
        return limit
    if sc_range_max(cid) >= limit:
        while sc_range_max(cid) >= limit:
            cid = sc_child(cid, 0)
        return cid
    while sc_level(cid) > 0:
        par = sc_parent(cid, sc_level(cid) - 1)
        if sc_range_min(par) != start or sc_range_max(par) >= limit:
            break
        cid = par
    return cid
