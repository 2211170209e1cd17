"""Spark Column-level surface of the engine.

Geometry kernels enter Spark in exactly two forms:
- Arrow-batched pandas UDFs over the numpy kernel for the cell-id encode
  and decode (`s2_cellid`, `s2_cell_center`; never per-row Python, per
  BASELINE.json input_hint).  This is the only cell-id encode: geocoded
  pages get theirs through `sources.pages.geocode`, and
- pure Column/SQL expressions that stay inside whole-stage codegen for
  everything else: bit math on ids (parent/ancestors/token), tile
  arithmetic, and the closed-form unit vector and bearing (`xyz_cols`,
  `bearing_deg`).
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
    # a nullable int64 column: setting None in an int64 Series would
    # turn the whole batch into float64 and round every id to 53 bits
    return pd.Series(pd.arrays.IntegerArray(out, ~ok))


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
    """Center (lat, lon) degrees of each cell id; a null id gives null
    lat and lon."""
    ok = cell_id.notna().to_numpy()
    lat = np.full(len(ok), np.nan)
    lon = np.full(len(ok), np.nan)
    if ok.any():
        lat[ok], lon[ok] = ck.to_latlng_deg(
            cell_id[ok].to_numpy(dtype=np.int64))
    return pd.DataFrame({"lat": lat, "lon": lon})


# ---------------------------------------------------------------------------
# pure Column expressions (JVM-side, codegen'd — no Python)
# ---------------------------------------------------------------------------

_DEG2RAD = 0.017453292519943295  # float64(pi/180), same constant as numpy


def xyz_cols(lat, lon) -> tuple[Column, Column, Column]:
    """E1 unit vector as pure Columns (S2LatLng.toPoint,
    S2LatLng.kt:155-160): the engine's one lat/lon -> xyz in Spark."""
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
