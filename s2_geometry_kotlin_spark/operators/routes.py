"""Polyline (route) operators: near-route join, map-matching projection,
route x polygon-boundary crossings (SURVEY.md §2.4 P9, §2.5 D2/D9).

Routes are a small driver-side layer (like polygons); pages are the
10^12-row side.  Plans:

- pages_near_route: buffered route covering (coverer over the Polyline
  region + U8-style expand) -> broadcast ancestor-cell prejoin -> exact
  min point-edge distance as a higher-order aggregate over the route's
  edge-constant array — pure JVM, no per-candidate fan-out, no shuffle.
- route_project (map-matching): same prejoin, then an argmin fold over
  the edge array carrying (d2, edge, projection, cumulative angle);
  emits the snapped point and the along-route distance
  (S2Polyline.project / S2EdgeDistances.project semantics,
  region/S2Polyline.kt:286-320, edge/S2EdgeDistances.kt:199-226).
- routes_cross_polygons: P2 crossingSign triage over route-edge x
  polygon-edge pairs (edge/S2EdgeCrossings.kt:115-118) as plain Column
  determinant signs — both layers are tiny; generic-position fixtures
  never hit the exact-arithmetic ladder.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import ancestors_at
from ..kernel import cellid as ck
from ..kernel import distance as dist
from ..kernel.coverer import RegionCoverer, content_key, expand, memoized
from ..kernel.polyline import Polyline
from ..kernel.regions import Cap
from .edges import (EDGE_D2_SQL, _EDGE_FIELDS, edge_constants,
                    edge_covering_rows)

# deterministic fixture routes over the hot cities (sources/pages.CITIES)
_ROUTE_POINTS = [
    # Paris - London - New York
    [(48.8566, 2.3522), (51.5074, -0.1278), (40.7128, -74.006)],
    # Tokyo - San Francisco - New York
    [(35.6895, 139.6917), (37.7749, -122.4194), (40.7128, -74.006)],
    # Sydney - Sao Paulo (Pacific crossing)
    [(-33.8688, 151.2093), (-23.5505, -46.6333)],
    # Lagos - Paris
    [(6.5244, 3.3792), (48.8566, 2.3522)],
    # zig-zag through the Paris cluster (projection-heavy fixture)
    [(48.70, 2.20), (48.90, 2.40), (48.80, 2.60), (49.00, 2.80)],
]


def fixture_routes() -> list[tuple[int, Polyline]]:
    return [(rid, Polyline.from_latlng_deg(pts))
            for rid, pts in enumerate(_ROUTE_POINTS)]


def route_edge_rows(routes: list[tuple[int, Polyline]]) -> list:
    """(route_id, edge_id, cum_angle, constants...) — cum_angle is the
    along-route angle at the edge's start vertex."""
    rows = []
    for rid, line in routes:
        cum = line.cumulative_angles()
        v = line.vertices
        for i in range(len(v) - 1):
            cst = edge_constants(v[i], v[i + 1])
            rows.append((rid, i, float(cum[i]),
                         *[cst[f] for f in _EDGE_FIELDS]))
    return rows


def buffered_route_covering(routes: list[tuple[int, Polyline]],
                            radius_rad: float,
                            max_cells: int = 32) -> list:
    """(route_id, level, cell_id): covering of each polyline expanded by
    radius (kernel.coverer.expand).

    Kept in the shared bounded covering memo: the driver-side coverer
    walk costs 0.3-0.6 s per call (pure Python) and would otherwise
    re-run inside every timed query invocation."""
    def compute():
        coverer = RegionCoverer(max_cells=max_cells)
        rows = []
        for rid, line in routes:
            for cid in expand(coverer.get_covering(line),
                              radius_rad=radius_rad):
                rows.append((rid, ck.sc_level(cid),
                             cid - (1 << 64) if cid >= (1 << 63) else cid))
        return rows

    return memoized(("route", content_key(routes), radius_rad, max_cells),
                    compute)


def _edges_array_df(spark: SparkSession,
                    routes: list[tuple[int, Polyline]]) -> DataFrame:
    """(route_id, edges: array<struct<eid, cum, cx..n2>>) for the
    higher-order fold — one small broadcast row per route."""
    data = {}
    for rid, eid, cum, *vals in route_edge_rows(routes):
        data.setdefault(rid, []).append(
            (eid, cum, *[float(v) for v in vals]))
    fields = "eid: long, cum: double, " + \
        ", ".join(f"{f}: double" for f in _EDGE_FIELDS)
    schema = f"route_id long, edges array<struct<{fields}>>"
    return spark.createDataFrame(
        [(rid, data[rid]) for rid in sorted(data)], schema)


def _edge_d2(e: Column, x: Column, y: Column, z: Column) -> Column:
    """EDGE_D2_SQL as a Column over a struct element (for HOF lambdas)."""
    inside = ((x * e.nax + y * e.nay + z * e.naz > 0) &
              (x * e.bnx + y * e.bny + z * e.bnz > 0))
    xe = x * e.ex + y * e.ey + z * e.ez
    sin2 = F.least(F.lit(1.0), F.greatest(F.lit(0.0), xe * xe / e.n2))
    interior = F.lit(2.0) * (F.lit(1.0) - F.sqrt(F.lit(1.0) - sin2))
    da = F.least(F.lit(4.0), F.greatest(
        F.lit(0.0), F.lit(2.0) - F.lit(2.0) * (x * e.cx + y * e.cy +
                                               z * e.cz)))
    db = F.least(F.lit(4.0), F.greatest(
        F.lit(0.0), F.lit(2.0) - F.lit(2.0) * (x * e.dx + y * e.dy +
                                               z * e.dz)))
    ends = F.least(da, db)
    return F.when(inside, F.least(interior, ends)).otherwise(ends)


def _prejoin_candidates(pages: DataFrame, spark: SparkSession,
                        routes: list[tuple[int, Polyline]],
                        radius_rad: float) -> DataFrame:
    """pages -> (url, x, y, z, route_id) candidate pairs via the
    buffered-covering broadcast prejoin."""
    from .. import functions as s2f
    # max_cells=64: the finer base covering keeps the expanded covering
    # at levels {4,5} instead of {3,4,5} (fixture routes, 150 km
    # buffer), cutting the probe explode from 3 ancestor rows per page
    # to 2 — measured 1.17 -> 0.96 s on the bench leg with identical
    # output (the exact min-fold verify is unchanged; the covering is a
    # candidate superset either way).  Guide §2.3: shuffle/generate
    # fewer rows.
    rows = buffered_route_covering(routes, radius_rad, max_cells=64)
    cov = spark.createDataFrame(
        rows, "route_id long, level int, probe_cell long")
    levels = {r[1] for r in rows}
    x, y, z = s2f.xyz_cols("lat", "lon")
    probe = (pages.select("url", "cell_id", x.alias("x"), y.alias("y"),
                          z.alias("z"))
             .withColumn("probe_cell",
                         F.explode(ancestors_at(levels, "cell_id"))))
    return probe.join(F.broadcast(cov.select("probe_cell", "route_id")),
                      "probe_cell", "inner")


def pages_near_route(pages: DataFrame, spark: SparkSession,
                     routes: list[tuple[int, Polyline]],
                     radius_rad: float) -> DataFrame:
    """(url, route_id) for pages within radius of the route — exact D2
    verify as a min-fold over the route's edge array (no fan-out)."""
    cand = _prejoin_candidates(pages, spark, routes, radius_rad)
    edges = F.broadcast(_edges_array_df(spark, routes))
    cand = cand.join(edges, "route_id", "inner")
    x, y, z = F.col("x"), F.col("y"), F.col("z")
    min_d2 = F.aggregate(
        "edges", F.lit(8.0),
        lambda acc, e: F.least(acc, _edge_d2(e, x, y, z)))
    max_d2 = float(dist.radians_to_chord2(radius_rad))
    return (cand.withColumn("min_d2", min_d2)
            .where(F.col("min_d2") <= F.lit(max_d2))
            .select("url", "route_id"))


def route_project(pages: DataFrame, spark: SparkSession,
                  routes: list[tuple[int, Polyline]],
                  radius_rad: float) -> DataFrame:
    """Map-matching: snap each near-route page to its closest point on
    the route.  Output (url, route_id, edge_id, proj_lat_r, proj_lon_r,
    along_m): projection rounded to 1e-9 deg, along-route distance in
    meters rounded to mm.  argmin fold over the edge array — the
    projection q = p - (p.N/|N|^2) N when the foot is on the arc, else
    the nearer endpoint; lat/lon and the along-angle atan2 forms are
    scale-invariant so q is never normalized."""
    cand = _prejoin_candidates(pages, spark, routes, radius_rad)
    edges = F.broadcast(_edges_array_df(spark, routes))
    cand = cand.join(edges, "route_id", "inner")
    x, y, z = F.col("x"), F.col("y"), F.col("z")

    def proj(e: Column) -> tuple[Column, Column, Column]:
        inside = ((x * e.nax + y * e.nay + z * e.naz > 0) &
                  (x * e.bnx + y * e.bny + z * e.bnz > 0))
        coef = (x * e.ex + y * e.ey + z * e.ez) / e.n2
        da = F.lit(2.0) - F.lit(2.0) * (x * e.cx + y * e.cy + z * e.cz)
        db = F.lit(2.0) - F.lit(2.0) * (x * e.dx + y * e.dy + z * e.dz)
        nearer = da <= db
        qx = F.when(inside, x - coef * e.ex).otherwise(
            F.when(nearer, e.cx).otherwise(e.dx))
        qy = F.when(inside, y - coef * e.ey).otherwise(
            F.when(nearer, e.cy).otherwise(e.dy))
        qz = F.when(inside, z - coef * e.ez).otherwise(
            F.when(nearer, e.cz).otherwise(e.dz))
        return qx, qy, qz

    def merge(acc: Column, e: Column) -> Column:
        d2 = _edge_d2(e, x, y, z)
        qx, qy, qz = proj(e)
        return F.when(
            d2 < acc.d2,
            F.struct(d2.alias("d2"), e.eid.alias("eid"),
                     e.cum.alias("cum"),
                     qx.alias("qx"), qy.alias("qy"), qz.alias("qz"),
                     e.cx.alias("ax"), e.cy.alias("ay"),
                     e.cz.alias("az"))).otherwise(acc)

    init = F.struct(
        F.lit(8.0).alias("d2"), F.lit(-1).cast("long").alias("eid"),
        F.lit(0.0).alias("cum"),
        F.lit(0.0).alias("qx"), F.lit(0.0).alias("qy"),
        F.lit(0.0).alias("qz"),
        F.lit(0.0).alias("ax"), F.lit(0.0).alias("ay"),
        F.lit(0.0).alias("az"))
    best = F.aggregate("edges", init, merge)
    cand = cand.withColumn("b", best)
    max_d2 = float(dist.radians_to_chord2(radius_rad))
    b = F.col("b")
    # angle(a, q) via atan2(|a x q|, a.q) — scale-invariant in q
    crx = b.ay * b.qz - b.az * b.qy
    cry = b.az * b.qx - b.ax * b.qz
    crz = b.ax * b.qy - b.ay * b.qx
    dot = b.ax * b.qx + b.ay * b.qy + b.az * b.qz
    ang = F.atan2(F.sqrt(crx * crx + cry * cry + crz * crz), dot)
    along_m = F.round((b.cum + ang) * F.lit(dist.EARTH_RADIUS_METERS), 3)
    proj_lat = F.round(F.degrees(
        F.atan2(b.qz, F.sqrt(b.qx * b.qx + b.qy * b.qy))), 9)
    proj_lon = F.round(F.degrees(F.atan2(b.qy, b.qx)), 9)
    return (cand.where(b.d2 <= F.lit(max_d2))
            .select("url", "route_id", b.eid.alias("edge_id"),
                    proj_lat.alias("proj_lat_r"),
                    proj_lon.alias("proj_lon_r"),
                    along_m.alias("along_m")))


def routes_cross_polygons(spark: SparkSession,
                          routes: list[tuple[int, Polyline]],
                          polygons) -> DataFrame:
    """(route_id, polygon_id, n_crossings > 0) — strict interior
    crossings of route edges with polygon boundary edges
    (crossingSign triage form, S2EdgeCrossings.kt:115-118).

    Routed through the P9 indexed candidate path
    (crossing_edges_indexed: per-edge cell coverings + bidirectional
    ancestor equi-join + the same P2 verify) instead of an all-pairs
    route-edges x polygon-edges crossJoin, so the plan survives a large
    route layer: candidate volume is bounded by cell co-location, not
    |routes| x |polygon edges|."""
    pairs = crossing_edges_indexed(spark, routes, polygons)
    return (pairs.groupBy("route_id", "polygon_id")
            .agg(F.count("*").cast("bigint").alias("n_crossings")))


def crossing_edges_indexed(spark: SparkSession,
                           routes: list[tuple[int, Polyline]],
                           polygons) -> DataFrame:
    """P9 (S2CrossingEdgeQuery, index/shape/S2CrossingEdgeQuery.kt:91-341)
    at edge granularity: which polygon-boundary edges does each route
    edge cross?

    The reference walks a shape index cell-by-cell to gather candidate
    edges (getCandidates :156-184) and verifies with crossingSign.  The
    distributed re-expression:

    1. both edge sets get per-edge cell coverings (the cell-keyed edge
       index — the distributed MutableS2ShapeIndex analogue),
    2. candidates = equi-joins on covering cells, matched in BOTH
       directions (query-cell ancestor == index cell, and index-cell
       ancestor == query cell) so mixed covering levels pair up,
    3. exact verify = the P2 crossingSign triage determinants as pure
       Columns (identical formula to the oracle).

    Here both sides are driver-size layers; at scale either side can be
    a parquet-backed edge table with the identical plan."""
    # query-side: route edges with covering cells (radius 0)
    q_cov = []
    for rid, line in routes:
        v = line.vertices
        coverer = RegionCoverer(max_cells=8, level_mod=2)
        for i in range(len(v) - 1):
            mid = v[i] + v[i + 1]
            mid = mid / np.linalg.norm(mid)
            half = math.asin(0.5 * min(
                2.0, float(np.linalg.norm(v[i + 1] - v[i]))))
            r2 = float(dist.radians_to_chord2(min(math.pi, half * 1.01)))
            for cid in coverer.get_covering(Cap(mid, r2)):
                q_cov.append((rid, i, ck.sc_level(cid),
                              cid - (1 << 64) if cid >= (1 << 63) else cid))
    qdf = spark.createDataFrame(
        q_cov, "route_id long, redge long, qlevel int, qcell long")
    # index-side: polygon edges with coverings (radius 0 via the edge
    # covering helper)
    p_cov = edge_covering_rows(polygons, 0.0)
    pdf_cov = spark.createDataFrame(
        p_cov, "polygon_id long, pedge long, plevel int, pcell long")

    q_levels = {r[2] for r in q_cov}
    p_levels = {r[2] for r in p_cov}
    # direction 1: index cell coarser-or-equal -> probe query ancestors
    dir1 = (qdf.withColumn("k", F.explode(ancestors_at(p_levels, "qcell")))
            .join(pdf_cov.withColumnRenamed("pcell", "k"), "k")
            .select("route_id", "redge", "polygon_id", "pedge"))
    # direction 2: query cell coarser -> probe index ancestors
    dir2 = (pdf_cov.withColumn("k", F.explode(ancestors_at(q_levels,
                                                            "pcell")))
            .join(qdf.withColumnRenamed("qcell", "k"), "k")
            .select("route_id", "redge", "polygon_id", "pedge"))
    cand = dir1.unionByName(dir2).distinct()

    # attach endpoint/normal constants for the P2 verify
    r_rows = []
    for rid, eid, _cum, *vals in route_edge_rows(routes):
        d = dict(zip(_EDGE_FIELDS, vals))
        r_rows.append((rid, eid, d["cx"], d["cy"], d["cz"],
                       d["dx"], d["dy"], d["dz"],
                       d["ex"], d["ey"], d["ez"]))
    rdf = spark.createDataFrame(
        r_rows, "route_id long, redge long, ax double, ay double, "
                "az double, bx double, by double, bz double, "
                "nabx double, naby double, nabz double")
    p_rows = []
    for layer, pid, poly in polygons:
        eid = 0
        for lp in poly.loops:
            verts = lp.vertices
            n = len(verts)
            for i in range(n):
                c = verts[i]
                d = verts[(i + 1) % n]
                e = np.cross(c, d)
                p_rows.append((pid, eid,
                               float(c[0]), float(c[1]), float(c[2]),
                               float(d[0]), float(d[1]), float(d[2]),
                               float(e[0]), float(e[1]), float(e[2])))
                eid += 1
    pdf = spark.createDataFrame(
        p_rows, "polygon_id long, pedge long, cx double, cy double, "
                "cz double, dx double, dy double, dz double, "
                "ncdx double, ncdy double, ncdz double")
    j = cand.join(F.broadcast(rdf), ["route_id", "redge"]) \
        .join(F.broadcast(pdf), ["polygon_id", "pedge"])

    def sgn(v: Column) -> Column:
        return F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)) \
            .otherwise(F.lit(0))

    acb = -sgn(F.col("nabx") * F.col("cx") + F.col("naby") * F.col("cy") +
               F.col("nabz") * F.col("cz"))
    bda = sgn(F.col("nabx") * F.col("dx") + F.col("naby") * F.col("dy") +
              F.col("nabz") * F.col("dz"))
    cbd = -sgn(F.col("ncdx") * F.col("bx") + F.col("ncdy") * F.col("by") +
               F.col("ncdz") * F.col("bz"))
    dac = sgn(F.col("ncdx") * F.col("ax") + F.col("ncdy") * F.col("ay") +
              F.col("ncdz") * F.col("az"))
    crossing = (acb != 0) & (acb == bda) & (acb == cbd) & (acb == dac)
    return (j.where(crossing)
            .select("route_id", "redge", "polygon_id", "pedge"))


def crossing_edges_oracle_sql(routes, polygons) -> str:
    """Brute-force oracle at edge granularity: every (route edge,
    polygon edge) pair, same crossingSign triage."""
    r_rows = []
    for rid, eid, _cum, *vals in route_edge_rows(routes):
        d = dict(zip(_EDGE_FIELDS, vals))
        r_rows.append(
            f"({rid},{eid},{d['cx']!r},{d['cy']!r},{d['cz']!r},"
            f"{d['dx']!r},{d['dy']!r},{d['dz']!r},"
            f"{d['ex']!r},{d['ey']!r},{d['ez']!r})")
    p_rows = []
    for layer, pid, poly in polygons:
        eid = 0
        for lp in poly.loops:
            verts = lp.vertices
            n = len(verts)
            for i in range(n):
                c = verts[i]
                dd = verts[(i + 1) % n]
                e = np.cross(c, dd)
                p_rows.append(
                    f"({pid},{eid},{c[0]!r},{c[1]!r},{c[2]!r},"
                    f"{dd[0]!r},{dd[1]!r},{dd[2]!r},"
                    f"{e[0]!r},{e[1]!r},{e[2]!r})")
                eid += 1
    return f"""WITH
redg(route_id, redge, ax, ay, az, bx, by, bz, nabx, naby, nabz) AS
  (VALUES {','.join(r_rows)}),
pedg(polygon_id, pedge, cx, cy, cz, dx, dy, dz, ncdx, ncdy, ncdz) AS
  (VALUES {','.join(p_rows)})
SELECT r.route_id, r.redge, p.polygon_id, p.pedge
FROM redg r CROSS JOIN pedg p
WHERE -sign(r.nabx*p.cx + r.naby*p.cy + r.nabz*p.cz) <> 0
  AND -sign(r.nabx*p.cx + r.naby*p.cy + r.nabz*p.cz)
      = sign(r.nabx*p.dx + r.naby*p.dy + r.nabz*p.dz)
  AND -sign(r.nabx*p.cx + r.naby*p.cy + r.nabz*p.cz)
      = -sign(p.ncdx*r.bx + p.ncdy*r.by + p.ncdz*r.bz)
  AND -sign(r.nabx*p.cx + r.naby*p.cy + r.nabz*p.cz)
      = sign(p.ncdx*r.ax + p.ncdy*r.ay + p.ncdz*r.az)"""


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

def _route_edges_values(routes) -> str:
    rows = []
    for rid, eid, cum, *vals in route_edge_rows(routes):
        rows.append(f"({rid},{eid},{cum!r}," +
                    ",".join(repr(float(v)) for v in vals) + ")")
    return (f"redges(route_id, eid, cum, {', '.join(_EDGE_FIELDS)}) AS "
            f"(VALUES {','.join(rows)})")


def pages_near_route_sql(routes, radius_rad: float) -> str:
    """Expects cte pxyz(url, x, y, z); emits the final SELECT."""
    max_d2 = float(dist.radians_to_chord2(radius_rad))
    d2 = EDGE_D2_SQL.format(x="p.x", y="p.y", z="p.z", p="e.")
    return f"""{_route_edges_values(routes)},
rdist AS (
  SELECT p.url, e.route_id, min({d2}) AS min_d2
  FROM pxyz p CROSS JOIN redges e
  GROUP BY 1, 2
)
SELECT url, route_id FROM rdist WHERE min_d2 <= {max_d2!r}"""


def route_project_sql(routes, radius_rad: float) -> str:
    """Map-matching oracle: per-edge d2 + projection, argmin by
    (d2, eid), same scale-invariant atan2 forms."""
    max_d2 = float(dist.radians_to_chord2(radius_rad))
    d2 = EDGE_D2_SQL.format(x="p.x", y="p.y", z="p.z", p="e.")
    inside = ("(p.x*e.nax + p.y*e.nay + p.z*e.naz > 0) AND "
              "(p.x*e.bnx + p.y*e.bny + p.z*e.bnz > 0)")
    coef = "((p.x*e.ex + p.y*e.ey + p.z*e.ez) / e.n2)"
    nearer = ("(2.0 - 2.0*(p.x*e.cx + p.y*e.cy + p.z*e.cz)) <= "
              "(2.0 - 2.0*(p.x*e.dx + p.y*e.dy + p.z*e.dz))")
    qx = (f"CASE WHEN {inside} THEN p.x - {coef} * e.ex "
          f"WHEN {nearer} THEN e.cx ELSE e.dx END")
    qy = (f"CASE WHEN {inside} THEN p.y - {coef} * e.ey "
          f"WHEN {nearer} THEN e.cy ELSE e.dy END")
    qz = (f"CASE WHEN {inside} THEN p.z - {coef} * e.ez "
          f"WHEN {nearer} THEN e.cz ELSE e.dz END")
    return f"""{_route_edges_values(routes)},
pcand AS (
  SELECT p.url, e.route_id, e.eid, e.cum,
         e.cx AS ax, e.cy AS ay, e.cz AS az,
         ({d2}) AS d2, ({qx}) AS qx, ({qy}) AS qy, ({qz}) AS qz
  FROM pxyz p CROSS JOIN redges e
),
pbest AS (
  SELECT *, row_number() OVER (PARTITION BY url, route_id
                               ORDER BY d2, eid) AS rn
  FROM pcand
)
SELECT url, route_id, eid AS edge_id,
  round(degrees(atan2(qz, sqrt(qx*qx + qy*qy))), 9) AS proj_lat_r,
  round(degrees(atan2(qy, qx)), 9) AS proj_lon_r,
  round((cum + atan2(sqrt(
      (ay*qz - az*qy)*(ay*qz - az*qy) +
      (az*qx - ax*qz)*(az*qx - ax*qz) +
      (ax*qy - ay*qx)*(ax*qy - ay*qx)),
      ax*qx + ay*qy + az*qz)) * 6371010.0, 3) AS along_m
FROM pbest WHERE rn = 1 AND d2 <= {max_d2!r}"""


def routes_cross_polygons_sql(routes, polygons) -> str:
    """Constant-table crossing-count oracle (P2 triage in SQL)."""
    r_rows = []
    for rid, eid, _cum, *vals in route_edge_rows(routes):
        d = dict(zip(_EDGE_FIELDS, vals))
        r_rows.append(
            f"({rid},{d['cx']!r},{d['cy']!r},{d['cz']!r},"
            f"{d['dx']!r},{d['dy']!r},{d['dz']!r},"
            f"{d['ex']!r},{d['ey']!r},{d['ez']!r})")
    p_rows = []
    for layer, pid, poly in polygons:
        for lp in poly.loops:
            verts = lp.vertices
            n = len(verts)
            for i in range(n):
                c = verts[i]
                dd = verts[(i + 1) % n]
                e = np.cross(c, dd)
                p_rows.append(
                    f"({pid},{c[0]!r},{c[1]!r},{c[2]!r},"
                    f"{dd[0]!r},{dd[1]!r},{dd[2]!r},"
                    f"{e[0]!r},{e[1]!r},{e[2]!r})")
    return f"""WITH
redg(route_id, ax, ay, az, bx, by, bz, nabx, naby, nabz) AS
  (VALUES {','.join(r_rows)}),
pedg(polygon_id, cx, cy, cz, dx, dy, dz, ncdx, ncdy, ncdz) AS
  (VALUES {','.join(p_rows)}),
crossed AS (
  SELECT r.route_id, p.polygon_id,
    CASE WHEN
      -sign(r.nabx*p.cx + r.naby*p.cy + r.nabz*p.cz) <> 0
      AND -sign(r.nabx*p.cx + r.naby*p.cy + r.nabz*p.cz)
          = sign(r.nabx*p.dx + r.naby*p.dy + r.nabz*p.dz)
      AND -sign(r.nabx*p.cx + r.naby*p.cy + r.nabz*p.cz)
          = -sign(p.ncdx*r.bx + p.ncdy*r.by + p.ncdz*r.bz)
      AND -sign(r.nabx*p.cx + r.naby*p.cy + r.nabz*p.cz)
          = sign(p.ncdx*r.ax + p.ncdy*r.ay + p.ncdz*r.az)
    THEN 1 ELSE 0 END AS c
  FROM redg r CROSS JOIN pedg p
)
SELECT route_id, polygon_id, CAST(SUM(c) AS BIGINT) AS n_crossings
FROM crossed GROUP BY 1, 2 HAVING SUM(c) > 0"""
