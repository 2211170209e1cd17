"""D6: closest-cell query over a labeled cell index
(index/cell/S2ClosestCellQuery.kt:138-166, base S2ClosestCellQueryBase,
index S2CellIndex.kt:106-176).

The reference walks a (cellId, label) index best-first.  Distributed:
the cell index here is a polygon layer's covering — small by design —
so the plan is an argmin fold over the broadcast index, evaluated
per page entirely JVM-side:

- containment is a leaf-range test (page.cell_id BETWEEN rmin AND rmax,
  distance 0 — the D3 interior short-circuit),
- exterior distance is the min over the cell's 4 boundary edges (cell
  edges are great-circle arcs; the same EDGE_D2_SQL formula as the
  DuckDB oracle, bit-exact),
- the fold keeps the first strictly-smaller distance, so ties resolve
  to the lowest cell id — matching the oracle's ORDER BY (d2, cell_id).

For indexes too large to broadcast, the covering-prejoin + escalation
pattern of operators/edges.knn_edges applies unchanged (the index rows
are already cells).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel import cellid as ck
from ..kernel import distance as dist
from ..kernel.regions import Polygon
from ..session import local_frame
from .edges import EDGE_D2_SQL, _EDGE_FIELDS, edge_constants
from .routes import _edge_d2
from .spatial_join import build_covering_rows


def _index_edge_rows(polygons: list[tuple[str, int, Polygon]],
                     max_cells: int = 8) -> list:
    """One row per (covering cell, boundary edge k): (cell_id signed,
    polygon_id, rmin, rmax, constants...), sorted by (cell_id, k)."""
    rows = []
    for layer, pid, cid_signed, level, rmin, rmax, is_int in \
            build_covering_rows(polygons, max_cells=max_cells):
        cid = cid_signed + (1 << 64) if cid_signed < 0 else cid_signed
        verts = ck.cell_vertices(np.array([cid], dtype=np.uint64))[0]
        for k in range(4):
            cst = edge_constants(verts[k], verts[(k + 1) % 4])
            rows.append((cid_signed, pid, rmin, rmax,
                         *[cst[f] for f in _EDGE_FIELDS]))
    rows.sort(key=lambda r: (r[0], r[4]))
    return rows


def closest_covering_cell(pages: DataFrame, spark: SparkSession,
                          polygons: list[tuple[str, int, Polygon]],
                          max_cells: int = 8) -> DataFrame:
    """(url, cell, polygon_id, dist_m): the nearest covering cell of the
    layer per page.  pages: (url, lat, lon, cell_id)."""
    from .. import functions as s2f
    rows = _index_edge_rows(polygons, max_cells)
    arr = [(int(r[0]), int(r[1]), int(r[2]), int(r[3]),
            *[float(v) for v in r[4:]]) for r in rows]
    fields = ", ".join(f"{f}: double" for f in _EDGE_FIELDS)
    schema = (f"edges array<struct<ccid: long, pid: long, rmin: long, "
              f"rmax: long, {fields}>>")
    # one-row broadcast index table holding the whole (cell, label) index
    idx = local_frame(spark, [(arr,)], schema)
    x, y, z = s2f.xyz_cols("lat", "lon")
    cand = pages.select("url", "cell_id", x.alias("x"), y.alias("y"),
                        z.alias("z")).crossJoin(F.broadcast(idx))
    page_cell = F.col("cell_id")

    def d2_of(e):
        inside = (page_cell >= e.rmin) & (page_cell <= e.rmax)
        return F.when(inside, F.lit(0.0)).otherwise(
            _edge_d2(e, F.col("x"), F.col("y"), F.col("z")))

    init = F.struct(F.lit(9.0).alias("d2"),
                    F.lit(0).cast("long").alias("ccid"),
                    F.lit(-1).cast("long").alias("pid"))

    def merge(acc, e):
        d2 = d2_of(e)
        return F.when(d2 < acc.d2,
                      F.struct(d2.alias("d2"), e.ccid.alias("ccid"),
                               e.pid.alias("pid"))).otherwise(acc)

    best = F.aggregate("edges", init, merge)
    b = F.col("b")
    dist_m = F.round(
        F.lit(2.0 * dist.EARTH_RADIUS_METERS) *
        F.asin(F.lit(0.5) * F.sqrt(b.d2)), 3)
    return (cand.withColumn("b", best)
            .select("url", b.ccid.alias("cell"),
                    b.pid.alias("polygon_id"), dist_m.alias("dist_m")))


def closest_covering_cell_sql(polygons: list[tuple[str, int, Polygon]],
                              max_cells: int = 8) -> str:
    """DuckDB oracle: flat edge VALUES, min d2 per cell, rank by
    (d2, cell_id), keep rank 1.  Expects ctes pxyz(url, x, y, z) and
    henc(url, cell_id)."""
    rows = _index_edge_rows(polygons, max_cells)
    vals = ",".join(
        f"({r[0]},{r[1]},{r[2]},{r[3]}," +
        ",".join(repr(float(v)) for v in r[4:]) + ")"
        for r in rows)
    d2 = EDGE_D2_SQL.format(x="p.x", y="p.y", z="p.z", p="e.")
    return f"""cidx(ccid, pid, rmin, rmax, {', '.join(_EDGE_FIELDS)}) AS
  (VALUES {vals}),
cdist AS (
  SELECT p.url, e.ccid, e.pid,
         min(CASE WHEN h.cell_id BETWEEN e.rmin AND e.rmax
                  THEN 0.0 ELSE ({d2}) END) AS d2
  FROM pxyz p JOIN henc h ON h.url = p.url CROSS JOIN cidx e
  GROUP BY 1, 2, 3
),
cranked AS (
  SELECT url, ccid, pid, d2,
         row_number() OVER (PARTITION BY url ORDER BY d2, ccid) AS rn
  FROM cdist
)
SELECT url, ccid AS cell, pid AS polygon_id,
       round(2.0 * 6371010.0 * asin(0.5 * sqrt(d2)), 3) AS dist_m
FROM cranked WHERE rn = 1"""
