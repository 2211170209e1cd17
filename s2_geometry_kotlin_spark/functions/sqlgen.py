"""DuckDB oracle-SQL generators.

The driver's correctness gate runs our Spark queries against DuckDB SQL on
the same parquet tables.  The geometry kernels (Hilbert cell encode, tile
index, chord distances) are generated here as plain SQL from the *same*
constants as the numpy kernel (kernel/tables.py), so the oracle is a real
independent execution of the same math, not a stub.

Everything is integer / IEEE-double arithmetic that evaluates identically
in Spark, numpy and DuckDB; the only platform-sensitive ops are sin/cos,
whose cross-engine agreement is asserted by tests/test_oracle_parity.py.
"""

from __future__ import annotations

import numpy as np

from ..kernel.tables import LOOKUP_POS

MAX_LEVEL = 30
LIMIT_IJ = 1 << 30


def lookup_pos_cte(name: str = "lut") -> str:
    """1024-row VALUES cte mapping 10-bit Hilbert key -> 10-bit value."""
    rows = ",".join(f"({k},{int(v)})" for k, v in enumerate(LOOKUP_POS))
    return f"{name}(lk, lv) AS (VALUES {rows})"


def xyz_sql(lat: str, lon: str) -> str:
    """SELECT-fragment computing unit vector columns x, y, z."""
    return (f"cos(radians({lat})) * cos(radians({lon})) AS x, "
            f"cos(radians({lat})) * sin(radians({lon})) AS y, "
            f"sin(radians({lat})) AS z")


# face selection: reference largestAbsComponent tie-breaking
# (S2Coords.kt:403-419)
_FACE_AXIS = ("CASE WHEN abs(x) > abs(y) THEN (CASE WHEN abs(x) > abs(z) "
              "THEN 0 ELSE 2 END) ELSE (CASE WHEN abs(y) > abs(z) THEN 1 "
              "ELSE 2 END) END")


def face_uv_sql() -> str:
    """SELECT-fragment (over x,y,z) computing face, u, v."""
    return f"""
  CASE WHEN comp < 0 THEN axis + 3 ELSE axis END AS face,
  (CASE axis WHEN 0 THEN (CASE WHEN comp < 0 THEN z ELSE y END)
             WHEN 1 THEN (CASE WHEN comp < 0 THEN z ELSE -x END)
             ELSE (CASE WHEN comp < 0 THEN -y ELSE -x END) END) / comp AS u,
  (CASE axis WHEN 0 THEN (CASE WHEN comp < 0 THEN y ELSE z END)
             WHEN 1 THEN (CASE WHEN comp < 0 THEN -x ELSE z END)
             ELSE (CASE WHEN comp < 0 THEN -x ELSE -y END) END) / comp AS v
""".strip()
# face in {0,1,2}: u_num = [y,-x,-x], v_num = [z,z,-y]
# face in {3,4,5}: u_num = [z,z,-y],  v_num = [y,-x,-x]
# (validFaceXyzToUv, S2Coords.kt:343-359)


def st_sql(u: str) -> str:
    """Quadratic uvToSt (S2QuadraticProjection.kt:41-44)."""
    return (f"CASE WHEN {u} >= 0 THEN 0.5 * sqrt(1 + 3 * {u}) "
            f"ELSE 1 - 0.5 * sqrt(1 - 3 * {u}) END")


def ij_sql(s: str) -> str:
    """stToIj == clip(floor(2^30 * s)) (see kernel/cellid.py st_to_ij)."""
    return (f"greatest(0, least({LIMIT_IJ - 1}, "
            f"CAST(floor({LIMIT_IJ} * ({s})) AS BIGINT)))")


def hilbert_encode_ctes(src: str, key_cols: str) -> str:
    """Chain of 8 CTEs turning (face, i, j) of cte `src` into leaf cell ids.

    Emits ctes h7..h0; the final cte h0 has columns (key_cols, cell_id)
    where cell_id is the signed-int64 bit pattern of the uint64 id.
    Mirrors S2CellId.fromFaceIJ (S2CellId.kt:1081-1110) with the lookup
    table joined per step.  All id math is done in UBIGINT then cast.
    """
    ctes = []
    prev = src
    for k in range(7, -1, -1):
        name = f"h{k}"
        # key = bits + ((i >> 4k) & 15) << 6 + ((j >> 4k) & 15) << 2
        if k == 7:
            n_init = f"(CAST(face AS BIGINT) * {1 << 60})"
            bits_in = "(face & 1)"
        else:
            n_init = "n"
            bits_in = "bits"
        ctes.append(f"""{name} AS (
  SELECT {key_cols}, i, j,
         {n_init} | ((CAST(lut.lv AS BIGINT) >> 2) << {k * 8}) AS n,
         lut.lv & 3 AS bits
  FROM {prev}
  JOIN lut ON lut.lk = {bits_in} + (((i >> {k * 4}) & 15) << 6)
                              + (((j >> {k * 4}) & 15) << 2)
)""")
        prev = name
    # n fits in 63 bits (face <= 5); id = n*2+1 wraps into the int64 sign
    # bit for faces 4-5, so subtract 2^63 from n before doubling.
    final = f"""henc AS (
  SELECT {key_cols},
         (n - CASE WHEN n >= {1 << 62} THEN {1 << 62} ELSE 0 END
            - CASE WHEN n >= {1 << 62} THEN {1 << 62} ELSE 0 END)
         * 2 + 1 AS cell_id
  FROM h0
)"""
    ctes.append(final)
    return ",\n".join(ctes)


def cellid_from_latlng_query(source_sql: str, key_cols: str,
                             lat: str = "lat", lon: str = "lon") -> str:
    """Full WITH-chain: (key_cols, lat, lon) from `source_sql` -> henc cte
    with (key_cols, cell_id BIGINT leaf id).  Caller appends the final
    SELECT ... FROM henc."""
    return f"""WITH {lookup_pos_cte()},
src AS ({source_sql}),
pxyz AS (SELECT {key_cols}, {xyz_sql(lat, lon)} FROM src),
paxis AS (SELECT {key_cols}, x, y, z, {_FACE_AXIS} AS axis FROM pxyz),
pcomp AS (SELECT {key_cols}, x, y, z, axis,
          CASE axis WHEN 0 THEN x WHEN 1 THEN y ELSE z END AS comp FROM paxis),
pfuv AS (SELECT {key_cols}, {face_uv_sql()} FROM pcomp),
pij AS (SELECT {key_cols}, face,
        {ij_sql(st_sql('u'))} AS i,
        {ij_sql(st_sql('v'))} AS j FROM pfuv),
{hilbert_encode_ctes('pij', key_cols)}"""


def lookup_ij_cte(name: str = "lutij") -> str:
    from ..kernel.tables import LOOKUP_IJ
    rows = ",".join(f"({k},{int(v)})" for k, v in enumerate(LOOKUP_IJ))
    return f"{name}(lk, lv) AS (VALUES {rows})"


def hilbert_decode_ctes(src: str, key_cols: str) -> str:
    """Inverse of hilbert_encode_ctes: cte `src` must carry (key_cols,
    cell_id).  Emits d7..d0 and `hdec(key_cols, face, i, j)` —
    S2CellId.toFaceIJOrientation (S2CellId.kt:808-849).

    Works on the signed bit pattern: (id >> s) & mask equals the logical
    shift's low bits for mask < 2^boundary, and face needs the top 3 bits
    via the same trick."""
    ctes = []
    prev = src
    for k in range(7, -1, -1):
        name = f"d{k}"
        nbits = 2 if k == 7 else 4
        mask = (1 << (2 * nbits)) - 1
        if k == 7:
            face = "((cell_id >> 61) & 7)"
            bits_in = f"({face} & 1)"
            i_in, j_in = "0", "0"
            carry = f"cell_id, {face} AS face"
        else:
            bits_in = "bits"
            i_in, j_in = "i", "j"
            carry = "cell_id, face"
        ctes.append(f"""{name} AS (
  SELECT {key_cols}, {carry},
         {i_in} + ((lutij.lv >> 6) << {k * 4}) AS i,
         {j_in} + (((lutij.lv >> 2) & 15) << {k * 4}) AS j,
         lutij.lv & 3 AS bits
  FROM {prev}
  JOIN lutij ON lutij.lk = {bits_in}
                + (((cell_id >> {k * 8 + 1}) & {mask}) << 2)
)""")
        prev = name
    ctes.append(f"hdec AS (SELECT {key_cols}, cell_id, face, i, j FROM d0)")
    return ",\n".join(ctes)


def cell_center_latlng_sql() -> str:
    """SELECT-fragment over hdec columns (cell_id, face, i, j) computing
    the cell-center lat/lon degrees (centerSiTi -> faceSiTiToXyz ->
    atan2; S2CellId.kt:170-199, S2Coords.kt:467-471)."""
    # delta: 1 if leaf, else 2 if ((i XOR (id>>2)) & 1) else 0
    delta = ("CASE WHEN (cell_id & 1) = 1 THEN 1 "
             "WHEN (xor(i, cell_id >> 2) & 1) = 1 THEN 2 ELSE 0 END")
    si = f"(2 * i + {delta})"
    ti = f"(2 * j + {delta})"
    max_si_ti = 2.0 * (1 << 30)
    u = st_sql_inverse(f"({si} / {max_si_ti!r})")
    v = st_sql_inverse(f"({ti} / {max_si_ti!r})")
    x = (f"CASE face WHEN 0 THEN 1.0 WHEN 1 THEN -({u}) WHEN 2 THEN -({u})"
         f" WHEN 3 THEN -1.0 WHEN 4 THEN ({v}) ELSE ({v}) END")
    y = (f"CASE face WHEN 0 THEN ({u}) WHEN 1 THEN 1.0 WHEN 2 THEN -({v})"
         f" WHEN 3 THEN -({v}) WHEN 4 THEN -1.0 ELSE ({u}) END")
    z = (f"CASE face WHEN 0 THEN ({v}) WHEN 1 THEN ({v}) WHEN 2 THEN 1.0"
         f" WHEN 3 THEN -({u}) WHEN 4 THEN -({u}) ELSE -1.0 END")
    return (f"degrees(atan2(({z}), sqrt(({x})*({x}) + ({y})*({y})))) "
            f"AS center_lat, "
            f"degrees(atan2(({y}), ({x}))) AS center_lon")


def st_sql_inverse(s: str) -> str:
    """Quadratic stToUv (S2QuadraticProjection.kt:36-39)."""
    return (f"CASE WHEN {s} >= 0.5 THEN (1.0/3.0) * (4 * {s} * {s} - 1) "
            f"ELSE (1.0/3.0) * (1 - 4 * (1 - {s}) * (1 - {s})) END")


def parent_sql(cell_id: str, level: int) -> str:
    """Ancestor id at `level` via bit math (S2CellId.kt:356-373).

    Works on the signed bit pattern: lsb_for_level fits in 61 bits and the
    face (sign) bits are untouched by the mask for any valid level.
    """
    lsb = 1 << (2 * (MAX_LEVEL - level))
    mask = ~(2 * lsb - 1) & 0xFFFFFFFFFFFFFFFF
    # two's-complement constant as signed literal
    smask = mask - (1 << 64) if mask >= (1 << 63) else mask
    return f"(({cell_id} & CAST({smask} AS BIGINT)) | {lsb})"


def token_sql(cell_id: str) -> str:
    """Hex token with trailing zeros stripped (S2CellId.kt:638-654)."""
    return (f"CASE WHEN {cell_id} = 0 THEN 'X' ELSE "
            f"rtrim(lower(lpad(to_hex({cell_id}), 16, '0')), '0') END")


def pip_join_ctes(polygons) -> str:
    """CTE chain computing the brute-force PIP spatial join in SQL.

    Input cte contract: `pxyz(url, x, y, z)` (unit vectors of geocoded
    pages).  Output cte: `pipjoin(url, layer, polygon_id)` — one row per
    contained (page, polygon) pair, same crossing-parity convention as
    kernel/pip.py (fixed origin, xor over loops).

    Polygon edges and loop cross-products are inlined as float literals
    (data, like the vertex coordinates); the determinant signs and the
    parity count are computed by DuckDB.

    The signs are triage-only (plain float determinants, no exact
    fallback), so this oracle is not exact on boundary points: on the
    vertices and edge midpoints of `fixture_layer()`'s loops it returns
    637 rows where numpy `pip.polygon_contains_points` returns 630.  The
    registry's pages never sit on a polygon boundary.  The exact check
    on boundary points is `tests/test_spatial_join_exact.py`.
    """
    from ..kernel import pip as _pip
    from ..kernel import predicates as _pred

    ox, oy, oz = (repr(float(v)) for v in _pred.ORIGIN)
    edge_rows = []
    meta_rows = []
    for layer, pid, poly in polygons:
        oi = bool(getattr(poly, "inverted", False))
        for lp in poly.loops:
            verts = lp.vertices
            oi ^= _pip.compute_origin_inside(verts)
            n = len(verts)
            for i in range(n):
                c = verts[i]
                d = verts[(i + 1) % n]
                e = np.cross(c, d)
                edge_rows.append(
                    f"({pid},{c[0]!r},{c[1]!r},{c[2]!r},"
                    f"{d[0]!r},{d[1]!r},{d[2]!r},"
                    f"{e[0]!r},{e[1]!r},{e[2]!r})")
        meta_rows.append(f"({pid},'{layer}',{str(oi).upper()})")

    return f"""pop AS (
  SELECT url, x, y, z,
         {oy} * z - {oz} * y AS opx,
         {oz} * x - {ox} * z AS opy,
         {ox} * y - {oy} * x AS opz
  FROM pxyz
),
polyedges(polygon_id, cx, cy, cz, dx, dy, dz, ex, ey, ez) AS (
  VALUES {','.join(edge_rows)}
),
polymeta(polygon_id, layer, origin_inside) AS (
  VALUES {','.join(meta_rows)}
),
pipcross AS (
  SELECT p.url, e.polygon_id,
    SUM(CASE WHEN
      (CASE WHEN p.opx * e.dx + p.opy * e.dy + p.opz * e.dz > 0
            THEN 1 ELSE -1 END) =
      -(CASE WHEN p.opx * e.cx + p.opy * e.cy + p.opz * e.cz > 0
             THEN 1 ELSE -1 END)
      AND
      -(CASE WHEN e.ex * p.x + e.ey * p.y + e.ez * p.z > 0
             THEN 1 ELSE -1 END) =
      -(CASE WHEN p.opx * e.cx + p.opy * e.cy + p.opz * e.cz > 0
             THEN 1 ELSE -1 END)
      AND
      (CASE WHEN e.ex * {ox} + e.ey * {oy} + e.ez * {oz} > 0
            THEN 1 ELSE -1 END) =
      -(CASE WHEN p.opx * e.cx + p.opy * e.cy + p.opz * e.cz > 0
             THEN 1 ELSE -1 END)
      THEN 1 ELSE 0 END) AS ncross
  FROM pop p CROSS JOIN polyedges e
  GROUP BY 1, 2
),
pipjoin AS (
  SELECT c.url, m.layer, CAST(c.polygon_id AS BIGINT) AS polygon_id
  FROM pipcross c JOIN polymeta m ON m.polygon_id = c.polygon_id
  WHERE (c.ncross % 2 = 1) <> m.origin_inside
)"""


def within_distance_ctes(polygons, max_d2: float) -> str:
    """CTE chain for the buffered join oracle: pages within sqrt-chord
    distance of a polygon (contained OR min point-edge chord2 <= max_d2).

    Expects cte `pxyz(url, x, y, z)`; emits cte
    `withinjoin(url, layer, polygon_id)`.  Edge constants (vertices, edge
    normals N=CxD, NxC, DxN, |N|^2) are inlined data; the interior/
    endpoint distance selection replicates kernel/distance.py
    point_edge_chord2 term-for-term so boundary verdicts agree.
    """
    from ..kernel import pip as _pip

    edge_rows = []
    meta_rows = []
    for layer, pid, poly in polygons:
        oi = bool(getattr(poly, "inverted", False))
        for lp in poly.loops:
            verts = lp.vertices
            oi ^= _pip.compute_origin_inside(verts)
            n = len(verts)
            for i in range(n):
                c = verts[i]
                d = verts[(i + 1) % n]
                e = np.cross(c, d)
                na = np.cross(e, c)
                bn = np.cross(d, e)
                n2 = float(e @ e)
                edge_rows.append(
                    f"({pid},{c[0]!r},{c[1]!r},{c[2]!r},"
                    f"{d[0]!r},{d[1]!r},{d[2]!r},"
                    f"{e[0]!r},{e[1]!r},{e[2]!r},"
                    f"{na[0]!r},{na[1]!r},{na[2]!r},"
                    f"{bn[0]!r},{bn[1]!r},{bn[2]!r},{n2!r})")
        meta_rows.append(f"({pid},'{layer}',{str(oi).upper()})")

    pip_part = pip_join_ctes(polygons)
    return f"""{pip_part},
distedges(polygon_id, cx, cy, cz, dx, dy, dz, ex, ey, ez,
          nax, nay, naz, bnx, bny, bnz, n2) AS (
  VALUES {','.join(edge_rows)}
),
edist AS (
  SELECT p.url, e.polygon_id,
    min(CASE WHEN (p.x*e.nax + p.y*e.nay + p.z*e.naz > 0)
              AND (p.x*e.bnx + p.y*e.bny + p.z*e.bnz > 0)
        THEN least(
          2.0 * (1.0 - sqrt(1.0 - least(1.0, greatest(0.0,
            (p.x*e.ex + p.y*e.ey + p.z*e.ez) *
            (p.x*e.ex + p.y*e.ey + p.z*e.ez) / e.n2)))),
          least(
            least(4.0, greatest(0.0,
              2.0 - 2.0*(p.x*e.cx + p.y*e.cy + p.z*e.cz))),
            least(4.0, greatest(0.0,
              2.0 - 2.0*(p.x*e.dx + p.y*e.dy + p.z*e.dz)))))
        ELSE least(
            least(4.0, greatest(0.0,
              2.0 - 2.0*(p.x*e.cx + p.y*e.cy + p.z*e.cz))),
            least(4.0, greatest(0.0,
              2.0 - 2.0*(p.x*e.dx + p.y*e.dy + p.z*e.dz))))
        END) AS min_d2
  FROM pxyz p CROSS JOIN distedges e
  GROUP BY 1, 2
),
withinjoin AS (
  SELECT e.url, m.layer, CAST(e.polygon_id AS BIGINT) AS polygon_id
  FROM edist e JOIN polymeta m ON m.polygon_id = e.polygon_id
  WHERE e.min_d2 <= {max_d2!r}
     OR EXISTS (SELECT 1 FROM pipjoin pj
                WHERE pj.url = e.url AND pj.polygon_id = e.polygon_id)
)"""

