"""Spark Column-level surface of the engine.

Geometry kernels enter Spark in exactly two forms:
- pure Column/SQL expressions (bit math, tile arithmetic) that stay inside
  whole-stage codegen — used for everything the kernel can express without
  trig (parent/level/range/tile), and
- Arrow-batched pandas UDFs over the numpy kernel for the trig-heavy
  encode/decode (never per-row Python, per BASELINE.json input_hint).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

_LATLON = StructType([StructField("lat", DoubleType()),
                      StructField("lon", DoubleType())])
_XYZ = StructType([StructField("x", DoubleType()),
                   StructField("y", DoubleType()),
                   StructField("z", DoubleType())])

from ..kernel import cellid as ck

MAX_LEVEL = 30


# ---------------------------------------------------------------------------
# pandas UDFs (Arrow-vectorized numpy kernels)
# ---------------------------------------------------------------------------

@pandas_udf(LongType())
def s2_cellid(lat: pd.Series, lon: pd.Series) -> pd.Series:
    """Leaf (level-30) cell id for (lat, lon) degrees; null-safe."""
    la = lat.to_numpy(dtype=np.float64, na_value=np.nan)
    lo = lon.to_numpy(dtype=np.float64, na_value=np.nan)
    ok = ~(np.isnan(la) | np.isnan(lo))
    out = np.zeros(len(la), dtype=np.int64)
    if ok.any():
        out[ok] = ck.to_signed(ck.from_latlng_deg(la[ok], lo[ok]))
    res = pd.Series(out)
    res[~ok] = None
    return res


def s2_token(cell_id) -> Column:
    """E15 token as a pure Column expression (S2CellId.kt:638-654):
    16-digit lower hex of the id bit pattern, trailing zeros stripped;
    id 0 -> 'X'.  Stays in whole-stage codegen — no Python."""
    cell = F.col(cell_id) if isinstance(cell_id, str) else cell_id
    h = F.lower(F.lpad(F.hex(cell), 16, "0"))
    return F.when(cell == 0, F.lit("X")) \
        .otherwise(F.regexp_replace(h, "0+$", ""))


@pandas_udf(_LATLON)
def s2_cell_center(cell_id: pd.Series) -> pd.DataFrame:
    ids = cell_id.to_numpy(dtype=np.int64, na_value=0)
    lat, lon = ck.to_latlng_deg(ids)
    return pd.DataFrame({"lat": lat, "lon": lon})


@pandas_udf(_XYZ)
def s2_xyz(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
    x, y, z = ck.latlng_deg_to_xyz(lat.to_numpy(dtype=np.float64),
                                   lon.to_numpy(dtype=np.float64))
    return pd.DataFrame({"x": x, "y": y, "z": z})


# ---------------------------------------------------------------------------
# pure Column expressions (JVM-side, codegen'd — no Python)
# ---------------------------------------------------------------------------

_DEG2RAD = 0.017453292519943295  # float64(pi/180), same constant as numpy


# the 8-step Hilbert walk (S2CellId.fromFaceIJ, S2CellId.kt:1081-1110) as
# one higher-order aggregate over k=7..0: the expression tree is written
# once and evaluated iteratively per row in the JVM — a literal unrolled
# Column chain would embed each step's tree inside the next (exponential
# tree growth -> analyzer OOM).  element_at probes the 1024-entry 4-bit
# lookup table (LookupCellTables.kt:43-78) passed as a constant array.
_HILBERT_AGG = """
aggregate(
  sequence(7, 0, -1),
  named_struct('n', CAST({face} AS BIGINT) * CAST(1152921504606846976 AS BIGINT),
               'bits', CAST({face} & 1 AS BIGINT)),
  (acc, k) -> named_struct(
    'n', acc.n | shiftleft(CAST(shiftright(element_at({lut},
           CAST(acc.bits + shiftleft(shiftright({i}, 4*k) & 15, 6)
                         + shiftleft(shiftright({j}, 4*k) & 15, 2)
                AS INT) + 1), 2) AS BIGINT), 8*k),
    'bits', CAST(element_at({lut},
           CAST(acc.bits + shiftleft(shiftright({i}, 4*k) & 15, 6)
                         + shiftleft(shiftright({j}, 4*k) & 15, 2)
                AS INT) + 1) & 3 AS BIGINT)),
  acc -> shiftleft(acc.n, 1) + CAST(1 AS BIGINT))
"""


def with_cellid_jvm(df, lat: str = "lat", lon: str = "lon",
                    out: str = "cell_id"):
    """E8 leaf cell id computed entirely JVM-side — the
    latlng -> face/uv -> st -> ij -> Hilbert encode chain
    (S2LatLng.kt:155-160, S2Coords.kt:343-419,
    S2QuadraticProjection.kt:41-44, S2CellId.kt:1081-1110) as Column
    expressions + one higher-order aggregate: no Python worker, no Arrow
    exchange, no 2x thread oversubscription from python workers.

    Bit-identical to the numpy kernel unless JVM sin/cos differ from
    numpy's in the last ulp AND that ulp crosses a 2^-30 st-grid
    boundary (asserted zero on the synthesized coordinate grids by
    tests/test_round2_fixes.py).

    CAUTION: avoid filtering directly on the unmaterialized output
    column — predicate pushdown substitutes the full expression chain
    through every projection layer, exploding the optimizer tree.
    Materialize (cache/write) first, or compare via projections.  The
    Arrow kernel (s2_cellid) remains the measured hot path; this Column
    form exists for python-worker-free deployments and as the
    cross-engine SQL mirror of the encode.
    """
    from ..kernel.tables import LOOKUP_POS
    latc, lonc = F.col(lat), F.col(lon)
    # radians via explicit constant multiply (numpy's np.radians form;
    # java.lang.Math.toRadians computes x/180*pi, 1 ulp off sometimes)
    phi = latc * F.lit(_DEG2RAD)
    theta = lonc * F.lit(_DEG2RAD)
    cos_phi = F.cos(phi)
    x = F.cos(theta) * cos_phi
    y = F.sin(theta) * cos_phi
    z = F.sin(phi)
    step1 = df.withColumns({"__x": x, "__y": y, "__z": z})
    x, y, z = F.col("__x"), F.col("__y"), F.col("__z")
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    # largestAbsComponent tie-breaking exactly as the reference.
    # Selections below use element_at over tiny arrays rather than
    # nested CASE chains: when the optimizer inlines these expressions
    # into their consumers, the tree stays linear in size (a nested CASE
    # would duplicate the selector subtree once per branch, and the
    # fully-inlined projection used to exceed janino's 64 KB method
    # limit, knocking the whole stage out of codegen).
    axis = F.when(ax > ay,
                  F.when(ax > az, F.lit(0)).otherwise(F.lit(2))) \
        .otherwise(F.when(ay > az, F.lit(1)).otherwise(F.lit(2)))
    step2 = step1.withColumn("__axis", axis)
    axis = F.col("__axis")
    comp = F.element_at(F.array(x, y, z), axis + F.lit(1))
    step3 = step2.withColumn("__comp", comp)
    comp = F.col("__comp")
    face = F.when(comp < 0, axis + F.lit(3)).otherwise(axis)
    step4 = step3.withColumn("__face", face)
    face = F.col("__face")
    u_num = F.element_at(F.array(y, -x, -x, z, z, -y), face + F.lit(1))
    v_num = F.element_at(F.array(z, z, -y, y, -x, -x), face + F.lit(1))

    def st(w: Column) -> Column:
        """Quadratic uvToSt (S2QuadraticProjection.kt:41-44)."""
        return F.when(w >= 0,
                      F.lit(0.5) * F.sqrt(F.lit(1.0) + F.lit(3.0) * w)) \
            .otherwise(F.lit(1.0) -
                       F.lit(0.5) * F.sqrt(F.lit(1.0) - F.lit(3.0) * w))

    limit = (1 << MAX_LEVEL) - 1

    def ij(s: Column) -> Column:
        # NB greatest/least skip NULLs; null coords are gated at the end
        return F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit(limit).cast("long"),
                    F.floor(F.lit(float(1 << MAX_LEVEL)) * s)))

    step5 = step4.withColumns({
        "__i": ij(st(u_num / comp)),
        "__j": ij(st(v_num / comp)),
        "__lut": F.lit([int(v0) for v0 in LOOKUP_POS]),
    })
    cid = F.expr(_HILBERT_AGG.format(face="__face", i="__i", j="__j",
                                     lut="__lut"))
    res = step5.withColumn(
        out, F.when(latc.isNotNull() & lonc.isNotNull(), cid))
    return res.drop("__x", "__y", "__z", "__axis", "__comp", "__face",
                    "__i", "__j", "__lut")


def xyz_cols(lat, lon) -> tuple[Column, Column, Column]:
    """E1 unit vector as pure Columns (S2LatLng.toPoint,
    S2LatLng.kt:155-160) — JVM-side companion to the s2_xyz UDF."""
    latc = F.col(lat) if isinstance(lat, str) else lat
    lonc = F.col(lon) if isinstance(lon, str) else lon
    phi = latc * F.lit(_DEG2RAD)
    theta = lonc * F.lit(_DEG2RAD)
    cos_phi = F.cos(phi)
    return (F.cos(theta) * cos_phi, F.sin(theta) * cos_phi, F.sin(phi))


def bearing_deg(lat1, lon1, lat2, lon2) -> Column:
    """D8: initial bearing (degrees clockwise from north) from point 1
    to point 2 — S2Earth.getInitialBearing (S2Earth.kt:92-100),
    x = sin(dlat) + sin(lat1)*cos(lat2)*2*haversine(dlng),
    y = sin(dlng)*cos(lat2), bearing = atan2(y, x).  Pure Columns."""
    def _c(v):
        return F.col(v) if isinstance(v, str) else v
    la1 = _c(lat1) * F.lit(_DEG2RAD)
    lo1 = _c(lon1) * F.lit(_DEG2RAD)
    la2 = _c(lat2) * F.lit(_DEG2RAD)
    lo2 = _c(lon2) * F.lit(_DEG2RAD)
    cos_lat2 = F.cos(la2)
    lat_diff = la2 - la1
    lng_diff = lo2 - lo1
    hav = F.sin(lng_diff / F.lit(2.0)) * F.sin(lng_diff / F.lit(2.0))
    x = F.sin(lat_diff) + F.sin(la1) * cos_lat2 * F.lit(2.0) * hav
    y = F.sin(lng_diff) * cos_lat2
    return F.degrees(F.atan2(y, x))


def cell_parent(cell: Column, level: int) -> Column:
    """Ancestor at `level` — S2CellId.parent as 2 bitwise ops
    (S2CellId.kt:356-373).  Valid for any id of level >= `level`."""
    lsb = 1 << (2 * (MAX_LEVEL - level))
    mask = ~(2 * lsb - 1)  # python int, sign-extends correctly
    return (cell.bitwiseAND(F.lit(mask)).bitwiseOR(F.lit(lsb))).alias(
        f"cell_l{level}")


def ancestors_at(levels, cell_col: str) -> Column:
    """Array of `cell_col`'s ancestors at each of `levels`, ascending:
    one probe key per covering level for the ancestor-equality joins
    (valid where the cell is at least as fine as every level)."""
    return F.array(*[cell_parent(F.col(cell_col), lv).cast("long")
                     for lv in sorted(levels)])


# ---------------------------------------------------------------------------
# T1: raster tile grid (dilivia/s2/Tiles.kt:41-170) — pure arithmetic
# ---------------------------------------------------------------------------

def tile_row(lat: Column, lat0: float, size_deg: float) -> Column:
    return F.floor((lat - F.lit(lat0)) / F.lit(size_deg)).cast("long")


def tile_col(lon: Column, lon0: float, size_deg: float) -> Column:
    return F.floor((lon - F.lit(lon0)) / F.lit(size_deg)).cast("long")


def tile_index(lat: Column, lon: Column, lat0: float = -90.0,
               lon0: float = -180.0, size_deg: float = 1.0,
               ncols: int = 360) -> Column:
    """tile = row * ncols + col (Tiles.kt:103-119)."""
    return (tile_row(lat, lat0, size_deg) * F.lit(ncols) +
            tile_col(lon, lon0, size_deg))
