"""Distributed kNN (SURVEY.md §2.5 D4/D5).

The reference's S2ClosestPointQuery/S2ClosestEdgeQuery best-first search
(S2ClosestEdgeQueryBase.kt:68-341) is a single-node priority-queue walk;
the distributed re-expression replaces it with candidate-set pruning:

1. seed radius from global point density (cell metrics E18),
2. per-query cap covering (driver-side; queries are small), snapped to
   the round's most frequent covering level L: coarser cells expand to
   their level-L descendants, finer ones lift to their level-L ancestor,
3. candidate join: pages probed by their one level-L ancestor, not one
   row per covering level (broadcast hash join — pages never shuffle),
4. exact chord distances as pure Column arithmetic (xyz computed once by
   the Arrow kernel UDF; dist2 = (dx^2+dy^2)+dz^2 stays in codegen),
5. one Window.partitionBy(query).orderBy(dist2, url) row_number <= k
   (Spark plans a partial WindowGroupLimit before the exchange), and
   the round's top-k — at most k rows per query — is collected,
6. driver-side escalation from the collected rows: queries whose k-th
   distance exceeds the covered radius (or with < k results) retry with
   doubled radius; the rest are done, so a round is one Spark action
   and the result is a LocalRelation of the collected rows.

knn_points and knn_points_farthest (D7) run this one loop (_knn_loop);
the farthest form covers antipodal caps, ranks descending and stops on
the mirrored bound.  Query coverings live in the shared bounded
covering memo (kernel.coverer.memoized).

maxError / early-exit of the reference are single-node optimizations that
candidate pruning replaces (SURVEY.md §4.1).
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cell_parent
from ..kernel import cellid as ck
from ..kernel import distance as dist
from ..kernel.coverer import RegionCoverer, denormalize, memoized
from ..kernel.regions import Cap
from ..session import local_frame


def _query_covering_rows(queries: list[tuple[int, float, float]],
                         radius_rad: float, max_cells: int = 16,
                         antipodal: bool = False):
    """(level, rows): the queries' cap coverings snapped to one level,
    rows (query_id, qx, qy, qz, cell_id), driver-side.  The level is the
    most frequent one in the coverings (ties go to the coarser); each
    query's snapped cells are deduped and still cover its cap, so pages
    probe with one ancestor key.

    With antipodal=True the covering caps are centered at -q (for
    max-distance queries, D7: the k FARTHEST points from q are the k
    nearest to its antipode) while qx/qy/qz still carry the true query
    point for exact distance computation.

    Kept in the shared bounded covering memo (kernel.coverer.memoized)
    per (queries, radius, max_cells, antipodal): the pure-Python cap
    coverer otherwise re-runs inside every timed query invocation."""
    def compute():
        coverer = RegionCoverer(max_cells=max_cells)
        r2 = float(dist.radians_to_chord2(radius_rad))
        covers = []
        for qid, lat, lon in queries:
            x, y, z = ck.latlng_deg_to_xyz(np.array([lat]), np.array([lon]))
            center = np.array([x[0], y[0], z[0]])
            cap = Cap(-center if antipodal else center, r2)
            covers.append(((qid, float(x[0]), float(y[0]), float(z[0])),
                           coverer.get_covering(cap)))
        counts = Counter(ck.sc_level(c) for _, cells in covers
                         for c in cells)
        level = max(counts, key=lambda lv: (counts[lv], -lv))
        rows = []
        for q, cells in covers:
            snapped = {ck.sc_parent(c, level)
                       for c in denormalize(cells, level, 1)}
            rows.extend((*q, cid - (1 << 64) if cid >= (1 << 63) else cid)
                        for cid in sorted(snapped))
        return level, rows

    return memoized(("query", tuple(queries), radius_rad, max_cells,
                     antipodal), compute)


def knn_points(pages_xyz: DataFrame, spark: SparkSession,
               queries: list[tuple[int, float, float]], k: int,
               initial_radius_rad: float | None = None,
               n_pages_hint: int | None = None,
               stats: dict | None = None) -> DataFrame:
    """k nearest pages per query point.

    pages_xyz: DataFrame(url, x, y, z, cell_id) — cached by the caller if
    reused.  queries: [(query_id, lat_deg, lon_deg)].
    Returns (query_id, url, dist_m, rank), rank 1..k by (dist2, url): the
    rounds run when called, and the result is a LocalRelation.  Pass a dict as `stats` to receive {"rounds": n} escalation telemetry.
    """
    if queries and initial_radius_rad is None:
        n = n_pages_hint or pages_xyz.count()
        # density-calibrated so one round usually suffices: assume only a
        # ~30% uniform share of pages reaches sparse query regions (the
        # rest may cluster), and target 2k expected candidates
        area = 4.0 * math.pi * min(1.0, 8.0 * k / max(1.0, 0.3 * n))
        initial_radius_rad = max(1e-4, math.sqrt(area / math.pi))
    return _knn_loop(pages_xyz, spark, queries, k, initial_radius_rad,
                     farthest=False, stats=stats)


def knn_points_farthest(pages_xyz: DataFrame, spark: SparkSession,
                        queries: list[tuple[int, float, float]], k: int,
                        initial_radius_rad: float = 0.35) -> DataFrame:
    """D7 (max-distance targets, index/S2MaxDistanceTargets.kt): the k
    FARTHEST pages per query point.

    Same candidate-pruning plan as knn_points with the covering cap
    centered at the ANTIPODE -q: a page outside the antipodal covering
    of radius r satisfies chord2(p,-q) > chord2(r), i.e.
    chord2(p,q) < 4 - chord2(r) (|p-q|^2 + |p+q|^2 = 4 exactly), so once
    the k-th farthest distance found is >= 4 - chord2(r) no unseen page
    can displace the top-k.  Distances rank DESCENDING.
    """
    return _knn_loop(pages_xyz, spark, queries, k, initial_radius_rad,
                     farthest=True)


def _knn_loop(pages_xyz: DataFrame, spark: SparkSession,
              queries: list[tuple[int, float, float]], k: int,
              radius: float, farthest: bool,
              stats: dict | None = None) -> DataFrame:
    """The escalation loop shared by knn_points and knn_points_farthest.

    `farthest` sets the three things that differ: the caps are centered
    at the antipode, distances rank descending, and a query is done when
    its k-th distance kth satisfies kth >= 4 - covered2 instead of
    kth <= covered2 (covered2 = chord2 of the round's radius)."""
    order = F.desc("dist2") if farthest else F.col("dist2")
    w = Window.partitionBy("query_id").orderBy(order, "url")
    dx = F.col("x") - F.col("qx")
    dy = F.col("y") - F.col("qy")
    dz = F.col("z") - F.col("qz")
    # distance in meters rounded to mm: rank stays exact-FP, the
    # reported value is robust to last-ulp trig differences
    dist_m = F.round(
        F.lit(2.0 * dist.EARTH_RADIUS_METERS) *
        F.asin(F.lit(0.5) * F.sqrt(F.col("dist2"))), 3)
    remaining = list(queries)
    results = []
    rounds = 0
    while remaining:
        rounds += 1
        level, rows = _query_covering_rows(remaining, radius,
                                           antipodal=farthest)
        cov = local_frame(spark, rows, "query_id long, qx double, "
                          "qy double, qz double, cov_cell long")
        # one action: the round's top-k (at most k per remaining query)
        # comes to the driver, which decides convergence from it.  The
        # key is null-safe: geocoded pages never carry a null cell id,
        # so `<=>` joins the same rows as `=` without the inferred
        # isnotnull(probe_cell) filter that `=` pushes into the pages'
        # projection
        top = (pages_xyz
               .withColumn("probe_cell",
                           cell_parent(F.col("cell_id"), level))
               .join(F.broadcast(cov),
                     F.col("probe_cell").eqNullSafe(F.col("cov_cell")))
               .withColumn("dist2", dx * dx + dy * dy + dz * dz)
               .withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= k)
               .select("query_id", "url", "dist2", dist_m.alias("dist_m"),
                       "rank")
               .collect())
        kth = {r["query_id"]: r["dist2"] for r in top if r["rank"] == k}
        covered2 = float(dist.radians_to_chord2(radius))
        # at radius >= pi the covering is the whole sphere: this round's
        # top-k is definitive for every remaining query
        done = {q for q, _, _ in remaining if radius >= math.pi or (
            q in kth and (kth[q] >= 4.0 - covered2 if farthest
                          else kth[q] <= covered2))}
        results.extend((r["query_id"], r["url"], r["dist_m"], r["rank"])
                       for r in top if r["query_id"] in done)
        remaining = [q for q in remaining if q[0] not in done]
        radius = min(math.pi, radius * 2.0)
    if stats is not None:
        stats["rounds"] = rounds
    results.sort(key=lambda r: (r[0], r[3]))
    return local_frame(spark, results,
                       "query_id long, url string, dist_m double, rank long")
