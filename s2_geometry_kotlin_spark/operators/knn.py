"""Distributed kNN (SURVEY.md §2.5 D4/D5).

The reference's S2ClosestPointQuery/S2ClosestEdgeQuery best-first search
(S2ClosestEdgeQueryBase.kt:68-341) is a single-node priority-queue walk;
the distributed re-expression replaces it with candidate-set pruning:

1. seed radius from global point density (cell metrics E18),
2. per-query cap covering at a matching level (driver-side; queries are
   small), exploded to (query_id, covering cell) rows,
3. candidate join: pages probed by ancestor-cell equality (broadcast hash
   join — the pages side never shuffles),
4. exact chord distances as pure Column arithmetic (xyz computed once by
   the Arrow kernel UDF; dist2 = (dx^2+dy^2)+dz^2 stays in codegen),
5. Window.partitionBy(query).orderBy(dist2) row_number <= k,
6. driver-side escalation: queries whose k-th distance exceeds the
   covered radius (or with < k results) retry with doubled radius.

knn_points and knn_points_farthest (D7) run this one loop (_knn_loop);
the farthest form covers antipodal caps, ranks descending and stops on
the mirrored bound.  Query coverings live in the shared bounded
covering memo (kernel.coverer.memoized).

maxError / early-exit of the reference are single-node optimizations that
candidate pruning replaces (SURVEY.md §4.1).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import ancestors_at
from ..kernel import cellid as ck
from ..kernel import distance as dist
from ..kernel.coverer import RegionCoverer, memoized
from ..kernel.regions import Cap


def _query_covering_rows(queries: list[tuple[int, float, float]],
                         radius_rad: float, max_cells: int = 16,
                         antipodal: bool = False):
    """(query_id, qx, qy, qz, cell_id, level) covering rows, driver-side.

    With antipodal=True the covering caps are centered at -q (for
    max-distance queries, D7: the k FARTHEST points from q are the k
    nearest to its antipode) while qx/qy/qz still carry the true query
    point for exact distance computation.

    Kept in the shared bounded covering memo (kernel.coverer.memoized)
    per (queries, radius, max_cells, antipodal): the pure-Python cap
    coverer otherwise re-runs inside every timed query invocation."""
    def compute():
        coverer = RegionCoverer(max_cells=max_cells)
        rows = []
        r2 = float(dist.radians_to_chord2(radius_rad))
        for qid, lat, lon in queries:
            x, y, z = ck.latlng_deg_to_xyz(np.array([lat]), np.array([lon]))
            center = np.array([x[0], y[0], z[0]])
            cap = Cap(-center if antipodal else center, r2)
            for cid in coverer.get_covering(cap):
                signed = cid - (1 << 64) if cid >= (1 << 63) else cid
                rows.append((qid, float(x[0]), float(y[0]), float(z[0]),
                             signed, ck.sc_level(cid)))
        return rows

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
    Returns (query_id, url, dist_m, rank), rank 1..k by (dist2, url).
    Pass a dict as `stats` to receive {"rounds": n} escalation telemetry.
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
    remaining = list(queries)
    results: DataFrame | None = None
    rounds = 0
    while remaining:
        rounds += 1
        # at radius >= pi the covering is the whole sphere (6 face
        # cells): this round's top-k is definitive for every remaining
        # query, so emit it and stop (never reuse a smaller-radius topk)
        terminal = radius >= math.pi
        rows = _query_covering_rows(remaining, radius, antipodal=farthest)
        cov = spark.createDataFrame(
            rows, "query_id long, qx double, qy double, qz double, "
                  "cell_id long, level int")
        probe = pages_xyz.withColumn(
            "probe_cell",
            F.explode(ancestors_at({r[5] for r in rows}, "cell_id")))
        cand = probe.join(
            F.broadcast(cov.withColumnRenamed("cell_id", "probe_cell")),
            "probe_cell", "inner")
        dx = F.col("x") - F.col("qx")
        dy = F.col("y") - F.col("qy")
        dz = F.col("z") - F.col("qz")
        cand = cand.withColumn("dist2", dx * dx + dy * dy + dz * dz)
        # partial top-k per (query, covering cell) first: many keys ->
        # parallel, and it bounds what reaches the per-query final sort
        # (the single-key-per-query window would otherwise see every
        # candidate of a hot query in one partition)
        w0 = Window.partitionBy("query_id", "probe_cell") \
            .orderBy(order, "url")
        cand = (cand.withColumn("r0", F.row_number().over(w0))
                .where(F.col("r0") <= k).drop("r0"))
        w = Window.partitionBy("query_id").orderBy(order, "url")
        # distance in meters rounded to mm: rank stays exact-FP, the
        # reported value is robust to last-ulp trig differences
        dist_m = F.round(
            F.lit(2.0 * dist.EARTH_RADIUS_METERS) *
            F.asin(F.lit(0.5) * F.sqrt(F.col("dist2"))), 3)
        topk = (cand.withColumn("rank", F.row_number().over(w).cast("long"))
                .where(F.col("rank") <= k)
                .select("query_id", "url", F.col("dist2"),
                        dist_m.alias("dist_m"), "rank"))
        if terminal:
            results = topk if results is None else \
                results.unionByName(topk)
            break
        # lazy checkpoint: the convergence-check aggregate below is a
        # full scan, so it materializes topk (a few k rows) once; the
        # returned result then reads the checkpoint instead of
        # recomputing the whole candidate join + windows a second time
        # when the caller consumes it (guide §1.2: don't compute things
        # twice) — measured ~1.9x on the bench knn leg
        topk = topk.localCheckpoint(eager=False)
        kth = F.min("dist2") if farthest else F.max("dist2")
        got = topk.groupBy("query_id").agg(
            F.count("*").alias("n"), kth.alias("kth")).collect()
        covered2 = float(dist.radians_to_chord2(radius))
        done_ids = {r["query_id"] for r in got if r["n"] >= k and (
            r["kth"] >= 4.0 - covered2 if farthest
            else r["kth"] <= covered2)}
        if done_ids:
            done_df = topk.where(F.col("query_id").isin(list(done_ids)))
            results = done_df if results is None else \
                results.unionByName(done_df)
        remaining = [q for q in remaining if q[0] not in done_ids]
        radius = min(math.pi, radius * 2.0)
    if stats is not None:
        stats["rounds"] = rounds
    if results is None:  # no queries
        return spark.createDataFrame(
            [], "query_id long, url string, dist_m double, rank long")
    return results.select("query_id", "url", "dist_m", "rank")
