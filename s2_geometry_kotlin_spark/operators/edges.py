"""Edge table + distributed kNN-to-edges (SURVEY.md §2.5 D4, D3 use).

The reference's S2ClosestEdgeQuery (index/shape/S2ClosestEdgeQuery.kt:95-208,
engine S2ClosestEdgeQueryBase.kt:68-341) is a single-node best-first
priority-queue walk over a shape index.  The distributed re-expression,
with PAGES as the query side (the 10^12-row side) and the polygon-layer
edge set as the data side:

1. each edge gets a buffered covering (cap around the edge expanded by
   the search radius, RegionCoverer with level_mod=2 to bound the number
   of distinct covering levels) — driver-side, the layer is small,
2. candidate join: pages probe by ancestor-cell equality at the covering
   levels (broadcast hash join; the pages side never shuffles),
3. exact point-edge squared-chord distance as a PURE SQL expression
   (the same dialect-neutral formula the DuckDB oracle runs — zero
   Python in the verify path),
4. window top-k per page,
5. escalation entirely as DataFrame ops: pages whose k-th distance
   exceeds the covered radius are anti-joined and retried with doubled
   radius; at radius >= pi the round is definitive (whole sphere).

The done-test bound is the D3/D2 guarantee: a page outside an edge's
buffered covering is farther than `radius` from that edge, so once
kth_dist2 <= chord2(radius) no unseen edge can displace the top-k.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import ancestors_at
from ..kernel import cellid as ck
from ..kernel import distance as dist
from ..kernel.coverer import RegionCoverer, content_key, memoized
from ..kernel.regions import Cap, Polygon

# dialect-neutral SQL: min squared-chord distance from unit vector
# (x, y, z) to the edge whose precomputed constants are columns
# {p}cx..{p}n2 — interior-vs-endpoint selection identical to
# kernel/distance.point_edge_chord2 (S2EdgeDistances.kt:71-118) and to
# the DuckDB oracle (evaluates bit-for-bit the same in both engines).
EDGE_D2_SQL = """
CASE WHEN ({x}*{p}nax + {y}*{p}nay + {z}*{p}naz > 0)
      AND ({x}*{p}bnx + {y}*{p}bny + {z}*{p}bnz > 0)
THEN least(
  2.0 * (1.0 - sqrt(1.0 - least(1.0, greatest(0.0,
    ({x}*{p}ex + {y}*{p}ey + {z}*{p}ez) *
    ({x}*{p}ex + {y}*{p}ey + {z}*{p}ez) / {p}n2)))),
  least(least(4.0, greatest(0.0,
          2.0 - 2.0*({x}*{p}cx + {y}*{p}cy + {z}*{p}cz))),
        least(4.0, greatest(0.0,
          2.0 - 2.0*({x}*{p}dx + {y}*{p}dy + {z}*{p}dz)))))
ELSE least(least(4.0, greatest(0.0,
          2.0 - 2.0*({x}*{p}cx + {y}*{p}cy + {z}*{p}cz))),
        least(4.0, greatest(0.0,
          2.0 - 2.0*({x}*{p}dx + {y}*{p}dy + {z}*{p}dz))))
END"""


def edge_constants(c: np.ndarray, d: np.ndarray) -> dict:
    """Precomputed per-edge constants for the distance SQL: endpoints,
    edge normal e = c x d, interior-test normals na = e x c / bn = d x e,
    |e|^2."""
    e = np.cross(c, d)
    na = np.cross(e, c)
    bn = np.cross(d, e)
    return {
        "cx": float(c[0]), "cy": float(c[1]), "cz": float(c[2]),
        "dx": float(d[0]), "dy": float(d[1]), "dz": float(d[2]),
        "ex": float(e[0]), "ey": float(e[1]), "ez": float(e[2]),
        "nax": float(na[0]), "nay": float(na[1]), "naz": float(na[2]),
        "bnx": float(bn[0]), "bny": float(bn[1]), "bnz": float(bn[2]),
        "n2": float(e @ e),
    }


_EDGE_FIELDS = ("cx cy cz dx dy dz ex ey ez nax nay naz "
                "bnx bny bnz n2").split()


def polygon_edge_rows(polygons: list[tuple[str, int, Polygon]]) -> list:
    """(layer, polygon_id, edge_id, constants...) — the edge table of a
    polygon layer (S2Shape edge view, shape/S2Shape.kt); edge_id runs
    over all loops of the polygon."""
    rows = []
    for layer, pid, poly in polygons:
        eid = 0
        for lp in poly.loops:
            verts = lp.vertices
            n = len(verts)
            for i in range(n):
                cst = edge_constants(verts[i], verts[(i + 1) % n])
                rows.append((layer, pid, eid,
                             *[cst[f] for f in _EDGE_FIELDS]))
                eid += 1
    return rows


EDGE_SCHEMA = ("layer string, polygon_id long, edge_id long, " +
               ", ".join(f"{f} double" for f in _EDGE_FIELDS))


def edge_table(spark: SparkSession,
               polygons: list[tuple[str, int, Polygon]]) -> DataFrame:
    return spark.createDataFrame(polygon_edge_rows(polygons), EDGE_SCHEMA)


def edge_covering_rows(polygons: list[tuple[str, int, Polygon]],
                       radius_rad: float) -> list:
    """(polygon_id, edge_id, level, cell_id): per-edge buffered covering
    — the cap around the edge expanded by radius_rad covers every point
    within radius_rad of the edge (triangle inequality), level_mod=2
    caps the number of distinct levels the probe side must explode.
    Kept in the shared bounded covering memo."""
    def compute():
        coverer = RegionCoverer(max_cells=8, level_mod=2)
        rows = []
        for layer, pid, poly in polygons:
            eid = 0
            for lp in poly.loops:
                verts = lp.vertices
                n = len(verts)
                for i in range(n):
                    c = verts[i]
                    d = verts[(i + 1) % n]
                    mid = c + d
                    mid = mid / np.linalg.norm(mid)
                    half = 0.5 * 2.0 * math.asin(
                        0.5 * min(2.0, float(np.linalg.norm(d - c))))
                    r2 = float(dist.radians_to_chord2(
                        min(math.pi, half + radius_rad)))
                    for cid in coverer.get_covering(Cap(mid, r2)):
                        rows.append((pid, eid, ck.sc_level(cid),
                                     cid - (1 << 64) if cid >= (1 << 63)
                                     else cid))
                    eid += 1
        return rows

    return memoized(("edge", content_key(polygons), round(radius_rad, 12)),
                    compute)


def knn_edges(pages: DataFrame, spark: SparkSession,
              polygons: list[tuple[str, int, Polygon]], k: int,
              initial_radius_rad: float = 0.05,
              stats: dict | None = None) -> DataFrame:
    """k nearest polygon edges per page.

    pages: DataFrame(url, lat, lon, cell_id) (geocoded).  Returns
    (url, layer, polygon_id, edge_id, dist_m, rank), rank 1..k by
    (dist2, polygon_id, edge_id).  Escalation state lives in DataFrames
    (anti-joins) — nothing per-page ever reaches the driver.
    """
    from .. import functions as s2f
    x, y, z = s2f.xyz_cols("lat", "lon")
    # localCheckpoint truncates the logical plan: the escalation loop
    # would otherwise re-embed the whole upstream pipeline (scan +
    # geoparse + cell encode) once per round inside nested anti-joins,
    # blowing up analysis/optimization time (standard practice for
    # iterative DataFrame algorithms)
    remaining = pages.select("url", "cell_id",
                             x.alias("x"), y.alias("y"), z.alias("z")) \
        .localCheckpoint()
    edges = F.broadcast(edge_table(spark, polygons))
    d2 = F.expr(EDGE_D2_SQL.format(x="x", y="y", z="z", p=""))
    dist_m = F.round(
        F.lit(2.0 * dist.EARTH_RADIUS_METERS) *
        F.asin(F.lit(0.5) * F.sqrt(F.col("dist2"))), 3)
    w = Window.partitionBy("url").orderBy("dist2", "polygon_id", "edge_id")

    radius = initial_radius_rad
    results: DataFrame | None = None
    rounds = 0
    while True:
        rounds += 1
        terminal = radius >= math.pi
        rows = edge_covering_rows(polygons, radius)
        cov = spark.createDataFrame(
            rows, "polygon_id long, edge_id long, level int, probe_cell long")
        probe = remaining.withColumn(
            "probe_cell",
            F.explode(ancestors_at({r[2] for r in rows}, "cell_id")))
        # normalized covering cells are disjoint per edge -> at most one
        # match per (page, edge); join keeps polygon_id/edge_id keys
        cand = probe.join(cov.select("probe_cell", "polygon_id",
                                     "edge_id").hint("broadcast"),
                          "probe_cell", "inner")
        cand = cand.join(edges, ["polygon_id", "edge_id"], "inner") \
            .withColumn("dist2", d2)
        topk = (cand.withColumn("rank", F.row_number().over(w).cast("long"))
                .where(F.col("rank") <= k)
                .select("url", "layer", "polygon_id", "edge_id",
                        "dist2", dist_m.alias("dist_m"), "rank"))
        if terminal:
            results = topk if results is None else results.unionByName(topk)
            break
        covered2 = float(dist.radians_to_chord2(radius))
        page_stats = topk.groupBy("url").agg(
            F.count("*").alias("n"), F.max("dist2").alias("kth"))
        done_urls = page_stats.where(
            (F.col("n") >= k) & (F.col("kth") <= F.lit(covered2))) \
            .select("url")
        done = topk.join(done_urls, "url", "left_semi")
        results = done if results is None else results.unionByName(done)
        # keep per-round plans shallow: the next round starts from a
        # truncated snapshot of the not-yet-done pages
        remaining = remaining.join(done_urls, "url", "left_anti") \
            .localCheckpoint()
        radius = min(math.pi, radius * 2.0)
        if remaining.isEmpty():
            break
    if stats is not None:
        stats["rounds"] = rounds
    return results.select("url", "layer", "polygon_id", "edge_id",
                          "dist_m", "rank")


def knn_edges_oracle_sql(polygons: list[tuple[str, int, Polygon]],
                         k: int) -> str:
    """Brute-force DuckDB oracle: pages x all edges, same d2 formula,
    rank <= k.  Expects cte `pxyz(url, x, y, z)`."""
    rows = []
    for layer, pid, eid, *vals in polygon_edge_rows(polygons):
        rows.append(f"('{layer}',{pid},{eid}," +
                    ",".join(repr(v) for v in vals) + ")")
    d2 = EDGE_D2_SQL.format(x="p.x", y="p.y", z="p.z", p="e.")
    return f"""edges(layer, polygon_id, edge_id, {', '.join(_EDGE_FIELDS)})
  AS (VALUES {','.join(rows)}),
ecand AS (
  SELECT p.url, e.layer, e.polygon_id, e.edge_id, ({d2}) AS dist2
  FROM pxyz p CROSS JOIN edges e
),
eranked AS (
  SELECT url, layer, polygon_id, edge_id, dist2,
         row_number() OVER (PARTITION BY url
                            ORDER BY dist2, polygon_id, edge_id) AS rank
  FROM ecand
)
SELECT url, layer, polygon_id, edge_id,
       round(2.0 * 6371010.0 * asin(0.5 * sqrt(dist2)), 3) AS dist_m,
       rank
FROM eranked WHERE rank <= {k}"""
