"""Distributed point-in-polygon spatial join (SURVEY.md §3.3).

Three-tier plan mirroring the reference's work-avoidance structure
(S2Polygon.contains + MutableS2ShapeIndex) as join + filter + UDF:

1. covering prejoin — polygon coverings exploded to cells, pages joined by
   ancestor-cell equality at each distinct covering level (broadcast hash
   join; no shuffle of the pages side),
2. interior fast-accept — covering cells fully inside the polygon skip
   verification (the reference's containsCenter fast path),
3. exact PIP verify — boundary-cell candidates go through the vectorized
   crossing-parity kernel (SEMI_OPEN, bit-compatible with
   S2Loop.bruteForceContains) in an Arrow-batched pandas UDF.

Strategies:
- "broadcast": covering is broadcast; pages never shuffle.  Right when
  layers are small (the common case; reference's brute-force-vs-index
  cutover analogue).
- "salted": shuffle hash join with explicit hot-cell salting — the
  covering side is replicated nsalt ways, the pages side picks
  pmod(xxhash64(url), nsalt).  Handles the north_rule's "explicit skew
  handling" when a single covering cell matches a huge page population
  (AQE alone cannot split one hot *key* of a broadcast join).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BooleanType, IntegerType

from ..functions import ancestors_at
from ..kernel import cellid as ck
from ..kernel import pip
from ..kernel.coverer import RegionCoverer, content_key, expand, memoized
from ..kernel.regions import Cell, Polygon


def _signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def build_covering_rows(polygons: list[tuple[str, int, Polygon]],
                        max_cells: int = 32, min_level: int = 4,
                        max_level: int = 16, level_mod: int = 3):
    """(layer, polygon_id, cell_id, level, range_min, range_max,
    is_interior) — computed once per layer, driver-side, and kept in
    the shared bounded covering memo (kernel.coverer.memoized).

    Covering levels are clamped to {4, 7, 10, 13, 16}: the probe side
    explodes each page once per DISTINCT covering level, so an
    unconstrained covering (~18 levels on the fixture layer) multiplies
    the 10^12-row side ~18x before the broadcast join.  The clamp cuts
    that to 5x for a slightly coarser boundary (more exact-verify
    candidates) — measured 1.9x faster end-to-end at 40M pages with
    bit-identical output."""
    def compute():
        rows = []
        coverer = RegionCoverer(max_cells=max_cells, min_level=min_level,
                                max_level=max_level, level_mod=level_mod)
        for layer, pid, poly in polygons:
            for cid in coverer.get_covering(poly):
                rows.append((
                    layer, pid, _signed(cid), ck.sc_level(cid),
                    _signed(ck.sc_range_min(cid)),
                    _signed(ck.sc_range_max(cid)),
                    bool(poly.contains_cell(Cell(cid))),
                ))
        return rows

    return memoized(("layer", content_key(polygons), max_cells, min_level,
                     max_level, level_mod), compute)


_COV_SCHEMA = ("layer string, polygon_id long, cell_id long, level int, "
               "range_min long, range_max long, is_interior boolean")


def make_pip_udf(polygons: list[tuple[str, int, Polygon]],
                 with_interior: bool = False):
    """Arrow-batched verify UDF: (polygon_id, lat, lon) -> contained.

    The polygon vertex arrays ride in the UDF closure (broadcast by Spark
    with the task binary — layers are small by design).

    with_interior=True takes the candidate's is_interior flag as a 4th
    argument and SKIPS the numpy PIP kernel for interior fast-accept
    rows (they are contained by construction).  The post-UDF filter
    `is_interior OR pip(...)` cannot skip that compute: ArrowEvalPython
    evaluates the UDF column for every input row before the filter runs
    (guide §4 — Python UDFs are hoisted out of boolean expressions into
    their own plan node).  Worth it on the range/stabbing path whose
    unclamped covering makes ~34% of candidates interior; the clamped
    broadcast covering sees ~1%."""
    loops_by_pid: dict[int, list[np.ndarray]] = {
        pid: [lp.vertices for lp in poly.loops]
        for _, pid, poly in polygons
    }
    inv_by_pid = {pid: bool(getattr(poly, "inverted", False))
                  for _, pid, poly in polygons}

    def _contains(pids: np.ndarray, la: np.ndarray,
                  lo: np.ndarray) -> np.ndarray:
        x, y, z = ck.latlng_deg_to_xyz(la, lo)
        pts = np.stack([x, y, z], axis=1)
        out = np.zeros(len(pids), dtype=bool)
        for pid in np.unique(pids):
            mask = pids == pid
            out[mask] = pip.polygon_contains_points(
                loops_by_pid[int(pid)], pts[mask],
                inverted=inv_by_pid[int(pid)])
        return out

    if with_interior:
        @pandas_udf(BooleanType())
        def pip_contains_i(polygon_id: pd.Series, lat: pd.Series,
                           lon: pd.Series,
                           is_interior: pd.Series) -> pd.Series:
            interior = is_interior.to_numpy(dtype=bool)
            out = interior.copy()
            todo = ~interior
            if todo.any():
                out[todo] = _contains(
                    polygon_id.to_numpy(dtype=np.int64)[todo],
                    lat.to_numpy(dtype=np.float64)[todo],
                    lon.to_numpy(dtype=np.float64)[todo])
            return pd.Series(out)

        return pip_contains_i

    @pandas_udf(BooleanType())
    def pip_contains(polygon_id: pd.Series, lat: pd.Series,
                     lon: pd.Series) -> pd.Series:
        return pd.Series(_contains(polygon_id.to_numpy(dtype=np.int64),
                                   lat.to_numpy(dtype=np.float64),
                                   lon.to_numpy(dtype=np.float64)))

    return pip_contains


def build_buffered_covering_rows(polygons: list[tuple[str, int, Polygon]],
                                 radius_rad: float,
                                 max_cells: int = 32):
    """U8: (layer, polygon_id, cell_id, level) of each covering expanded
    by `radius_rad` (kernel.coverer.expand)."""
    def compute():
        coverer = RegionCoverer(max_cells=max_cells)
        rows = []
        for layer, pid, poly in polygons:
            for cid in expand(coverer.get_covering(poly),
                              radius_rad=radius_rad):
                rows.append((layer, pid, _signed(cid), ck.sc_level(cid)))
        return rows

    return memoized(("buffered", content_key(polygons), radius_rad,
                     max_cells), compute)


def make_within_distance_udf(polygons: list[tuple[str, int, Polygon]],
                             radius_rad: float):
    """(polygon_id, lat, lon) -> contained OR within chord distance of any
    polygon edge (D2 point-edge kernel + P4 parity)."""
    from ..kernel import distance as dist
    inv_by_pid = {pid: bool(getattr(poly, "inverted", False))
                  for _, pid, poly in polygons}
    loops_by_pid = {pid: [lp.vertices for lp in poly.loops]
                    for _, pid, poly in polygons}
    max_d2 = float(dist.radians_to_chord2(radius_rad))

    @pandas_udf(BooleanType())
    def within(polygon_id: pd.Series, lat: pd.Series,
               lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(dtype=np.float64)
        lo = lon.to_numpy(dtype=np.float64)
        x, y, z = ck.latlng_deg_to_xyz(la, lo)
        pts = np.stack([x, y, z], axis=1)
        pids = polygon_id.to_numpy(dtype=np.int64)
        out = np.zeros(len(pids), dtype=bool)
        for pid in np.unique(pids):
            mask = pids == pid
            sub = pts[mask]
            res = pip.polygon_contains_points(
                loops_by_pid[int(pid)], sub,
                inverted=inv_by_pid[int(pid)])
            for verts in loops_by_pid[int(pid)]:
                a = verts
                b = np.roll(verts, -1, axis=0)
                d2 = dist.point_edge_chord2(sub, a, b).min(axis=1)
                res |= d2 <= max_d2
            out[mask] = res
        return pd.Series(out)

    return within


def within_distance_join(pages: DataFrame, spark: SparkSession,
                         polygons: list[tuple[str, int, Polygon]],
                         radius_rad: float) -> DataFrame:
    """Pages within `radius_rad` of each polygon (interior or boundary
    buffer) — buffered-covering prejoin + exact D2 verify."""
    rows = build_buffered_covering_rows(polygons, radius_rad)
    cov = spark.createDataFrame(
        rows, "layer string, polygon_id long, cell_id long, level int")
    levels = {r[3] for r in rows}
    probe = pages.withColumn("probe_cell",
                             F.explode(ancestors_at(levels, "cell_id")))
    # normalized covering cells are disjoint per polygon -> each page
    # matches at most one cell per polygon; no dedup (and no shuffle)
    joined = probe.join(
        F.broadcast(cov.withColumnRenamed("cell_id", "probe_cell")),
        "probe_cell", "inner")
    verify = make_within_distance_udf(polygons, radius_rad)
    return (joined.where(verify(F.col("polygon_id"), F.col("lat"),
                                F.col("lon")))
            .select("url", "layer", "polygon_id"))


def build_range_index(polygons: list[tuple[str, int, Polygon]],
                      max_cells: int = 32):
    """S2CellIndex in range form (index/cell/S2CellIndex.kt — build()
    :150 creates sorted rangeNodes :112 from boundary deltas;
    visitIntersectingCells :234 is the stabbing query): the coverings'
    [range_min, range_max] leaf intervals are swept into disjoint
    SEGMENTS, each carrying the set of covering rows active over it.  A
    page is then located with ONE binary search instead of one
    probe-row per covering level — no probe-side explode at all, so
    this path can use the UNCLAMPED covering (every level, tighter
    boundary, more interior fast-accepts).

    Returns (starts_u64, offsets, refs, meta_rows): segment start keys
    (uint64, ascending, sentinel 0), flattened active-row ref lists,
    and per-ref (ref, layer, polygon_id, is_interior) metadata."""
    rows = build_covering_rows(polygons, max_cells, min_level=0,
                               max_level=30, level_mod=1)

    def _u(v: int) -> int:
        return v + (1 << 64) if v < 0 else v

    events: list[tuple[int, int, int]] = []
    for idx, (_, _, _, _, rmin, rmax, _) in enumerate(rows):
        events.append((_u(rmin), 0, idx))      # interval opens
        events.append((_u(rmax) + 1, 1, idx))  # closes after rmax
    events.sort()
    starts = [0]
    seg_refs: list[list[int]] = [[]]
    active: set[int] = set()
    i = 0
    n = len(events)
    while i < n:
        pos = events[i][0]
        while i < n and events[i][0] == pos:
            _, kind, idx = events[i]
            (active.discard if kind else active.add)(idx)
            i += 1
        if pos == starts[-1]:
            seg_refs[-1] = sorted(active)
        else:
            starts.append(pos)
            seg_refs.append(sorted(active))
    offsets = np.zeros(len(seg_refs) + 1, dtype=np.int64)
    for k, refs in enumerate(seg_refs):
        offsets[k + 1] = offsets[k] + len(refs)
    flat = np.array([r for refs in seg_refs for r in refs],
                    dtype=np.int32)
    meta = [(idx, layer, pid, bool(interior))
            for idx, (layer, pid, _, _, _, _, interior)
            in enumerate(rows)]
    return (np.array(starts, dtype=np.uint64), offsets, flat, meta)


def make_stab_udf(starts: np.ndarray, offsets: np.ndarray,
                  refs: np.ndarray):
    """Arrow-batched stabbing query: leaf cell id -> active covering-row
    refs (the index arrays ride in the closure; KB-sized for layer
    tables)."""

    @pandas_udf(ArrayType(IntegerType()))
    def stab(cell_id: pd.Series) -> pd.Series:
        c = cell_id.to_numpy(dtype=np.int64).view(np.uint64)
        seg = np.searchsorted(starts, c, side="right") - 1
        return pd.Series([refs[offsets[k]:offsets[k + 1]].tolist()
                          for k in seg])

    return stab


def _pip_edges_array_df(spark: SparkSession,
                        polygons: list[tuple[str, int, Polygon]]):
    """(polygon_id, origin_inside, edges: array<struct<cx..cz, dx..dz,
    ex..ez, seo>>) — per-polygon boundary edge constants for the pure-SQL
    parity verify.  seo = sign(edge_normal . ORIGIN), precomputed."""
    from ..kernel import pip as _pip
    from ..kernel import predicates as _pred
    o = _pred.ORIGIN
    rows = []
    for layer, pid, poly in polygons:
        oi = bool(getattr(poly, "inverted", False))
        edges = []
        for lp in poly.loops:
            verts = lp.vertices
            oi ^= _pip.compute_origin_inside(verts)
            n = len(verts)
            for i in range(n):
                c = verts[i]
                d = verts[(i + 1) % n]
                e = np.cross(c, d)
                seo = 1 if float(e @ o) > 0 else -1
                edges.append((float(c[0]), float(c[1]), float(c[2]),
                              float(d[0]), float(d[1]), float(d[2]),
                              float(e[0]), float(e[1]), float(e[2]),
                              seo))
        rows.append((pid, bool(oi), edges))
    schema = ("polygon_id long, origin_inside boolean, edges "
              "array<struct<cx: double, cy: double, cz: double, "
              "dx: double, dy: double, dz: double, "
              "ex: double, ey: double, ez: double, seo: int>>")
    return spark.createDataFrame(rows, schema)


def make_pip_sql_predicate(spark: SparkSession,
                           polygons: list[tuple[str, int, Polygon]]):
    """Pure-JVM PIP verify: crossing-parity fold over the polygon's edge
    array — the same sign algebra as the DuckDB oracle's pipcross CTE
    (functions/sqlgen.pip_join_ctes), bit-identical verdicts.
    Triage-only signs (no exact-arithmetic escalation): right for the
    throughput path where points exactly on polygon edges do not occur;
    the Arrow kernel path (make_pip_udf) keeps the reference's full
    robustness ladder.

    The fold evaluates each of the three dot products EXACTLY ONCE per
    edge: with t = -sgn(op.c) and all signs in {-1, +1}, the crossing
    test (sgn(op.d) == t) & (-sgn(e.p) == t) & (seo == t) branches on
    the sign of op.c instead of materializing t (which would inline the
    op.c dot product into all three comparisons — the pre-r8 form
    computed it 3x per edge, plus re-derived the op = ORIGIN x p vector
    per use; op now comes in as three precomputed row columns).

    Returns (edges_df, keep_expr) — join candidates with
    F.broadcast(edges_df) on polygon_id, filter with keep_expr over
    page columns (x, y, z from s2f.xyz_cols and opx/opy/opz from
    origin_cross_cols)."""
    edges_df = _pip_edges_array_df(spark, polygons)
    x, y, z = F.col("x"), F.col("y"), F.col("z")
    opx, opy, opz = F.col("opx"), F.col("opy"), F.col("opz")

    def cross_count(acc, e):
        opc = opx * e.cx + opy * e.cy + opz * e.cz
        opd = opx * e.dx + opy * e.dy + opz * e.dz
        ep = e.ex * x + e.ey * y + e.ez * z
        # t = -sgn(op.c); sgn(v) = 1 if v > 0 else -1 (as before)
        crossing = F.when(
            opc > 0,                       # t = -1
            (~(opd > 0)) & (ep > 0) & (e.seo == -1)
        ).otherwise(                       # t = +1
            (opd > 0) & (~(ep > 0)) & (e.seo == 1))
        return acc + F.when(crossing, F.lit(1)).otherwise(F.lit(0))

    ncross = F.aggregate("edges", F.lit(0), cross_count)
    keep = (ncross % 2 == 1) != F.col("origin_inside")
    return edges_df, keep


def origin_cross_cols() -> dict[str, Column]:
    """op = ORIGIN x p as Columns over row columns x, y, z — computed
    once per candidate row (guide: hoist row-constant subexpressions out
    of per-edge lambdas)."""
    from ..kernel import predicates as _pred
    ox, oy, oz = (float(v) for v in _pred.ORIGIN)
    x, y, z = F.col("x"), F.col("y"), F.col("z")
    return {"opx": F.lit(oy) * z - F.lit(oz) * y,
            "opy": F.lit(oz) * x - F.lit(ox) * z,
            "opz": F.lit(ox) * y - F.lit(oy) * x}


def spatial_join(pages: DataFrame, spark: SparkSession,
                 polygons: list[tuple[str, int, Polygon]],
                 max_cells: int = 32, strategy: str = "broadcast",
                 nsalt: int | None = None,
                 verify: str = "kernel") -> DataFrame:
    """pages(url, lat, lon, cell_id) x polygon layer -> (url, layer,
    polygon_id).  Exactly the rows whose point is contained (SEMI_OPEN).

    verify="kernel": Arrow numpy PIP with the robust-predicate ladder
    (triage -> exact escalation) — the reference-parity path.
    verify="sql": pure-JVM crossing-parity fold (zero Python workers in
    the whole join; triage-only signs, identical formula to the oracle).

    strategy="range" is the S2CellIndex stabbing path: one Arrow binary
    search per page against the swept rangeNodes segments instead of a
    probe-row per covering level — no probe explode, unclamped (tighter)
    coverings, broadcast ref->metadata join.

    nsalt (salted only) defaults to S2_NSALT or 8.  The salt count is a
    DATA-size knob, not a core-count knob: the hot coarse covering
    cells hold rows proportional to corpus size, so the spread that is
    optimal at one scale under-spreads at 10x.  Measured (same-session
    A/B, 32 cores): at 2M/8M pages nsalt=8 wins (1.36/2.68 s vs
    1.67/3.00 s at nsalt=32 — extra covering replication and partition
    overhead); at 20M pages nsalt=32 wins 1.6x (5.1 s vs 8.3 s —
    nsalt=8 leaves ~2M-row hot-cell partitions whose verify straggles;
    AQE skew split does not fire because the partitions are far below
    skewedPartitionThresholdInBytes).  Local default stays 8 for the
    2M-page bench contract; size production runs with
    S2_NSALT ~ rows_per_hot_cell / 250k.
    """
    if nsalt is None:
        import os
        nsalt = int(os.environ.get("S2_NSALT", "8"))
    if strategy == "range":
        starts, offsets, flat, meta = build_range_index(polygons,
                                                        max_cells)
        stab = make_stab_udf(starts, offsets, flat)
        meta_df = spark.createDataFrame(
            meta, "ref int, layer string, polygon_id long, "
                  "is_interior boolean")
        # NOTE (r8): a scalar-seg variant (vectorized searchsorted
        # returning one int, then a broadcast (seg -> covering row)
        # join — no per-row Python list building, no Generate) measured
        # only ~5% faster at sf0.1 AND exploded the optimizer tree when
        # composed with the pure-JVM cellid pipeline (driver OOM during
        # planning: joining on a column derived from the very large
        # cell_id expression triggers constraint/pushdown copies of the
        # whole tree, even with the UDF marked non-deterministic).  The
        # explode form keeps the UDF output behind a Generate, which the
        # optimizer does not substitute through.
        joined = (pages.withColumn("ref",
                                   F.explode(stab(F.col("cell_id"))))
                  .join(F.broadcast(meta_df), "ref", "inner"))
    else:
        rows = build_covering_rows(polygons, max_cells)
        cov = spark.createDataFrame(rows, _COV_SCHEMA)
        # ancestor keys at each distinct covering level; covering cells
        # of one polygon are disjoint, so each page matches at most one
        # covering cell per polygon — no dedup.
        probe = pages.withColumn(
            "probe_cell",
            F.explode(ancestors_at({r[3] for r in rows}, "cell_id")))

        if strategy == "broadcast":
            joined = probe.join(
                F.broadcast(cov.withColumnRenamed("cell_id",
                                                  "probe_cell")),
                "probe_cell", "inner")
        elif strategy == "salted":
            salted_cov = (cov.withColumnRenamed("cell_id", "probe_cell")
                          .join(spark.range(nsalt)
                                .select(F.col("id").cast("int")
                                        .alias("salt"))))
            # NOT pre-filtered by covering-cell membership: an InSet
            # semi-filter before the exchange (guide §3.2) cuts the
            # shuffled probe rows 3x (9M -> 3M at sf0.1) but measured
            # SLOWER locally (1.02 -> 1.36 s candidate stage, A/B same
            # session) — the boxed InSet probe on 9M rows costs more
            # than a local-disk shuffle of the extra rows.  Revisit on
            # a real network where shuffle bytes dominate.
            probe = probe.withColumn(
                "salt",
                F.pmod(F.xxhash64("url"), F.lit(nsalt)).cast("int"))
            # hash map builds from the (small) salted covering side
            joined = probe.join(salted_cov.hint("shuffle_hash"),
                                ["probe_cell", "salt"], "inner")
        else:
            raise ValueError(f"unknown strategy {strategy!r}")

    # single pass: interior fast-accept OR exact PIP — one scan of the
    # pages side (a union of two branches would recompute the whole
    # upstream chain twice when the input is not materialized)
    if verify == "none":
        # diagnostic stage split for the bench: candidate rows straight
        # from the covering join, NO containment verify — a superset of
        # the true result, never a query answer.  Lets a cross-round
        # wall-time drift be attributed to the shuffle/join stage vs
        # the verify stage.
        return joined.select("url", "layer", "polygon_id")
    if verify == "sql":
        from .. import functions as s2f
        xc, yc, zc = s2f.xyz_cols("lat", "lon")
        joined = joined.withColumns({"x": xc, "y": yc, "z": zc})
        joined = joined.withColumns(origin_cross_cols())
        edges_df, pip_keep = make_pip_sql_predicate(spark, polygons)
        joined = joined.join(F.broadcast(edges_df), "polygon_id", "inner")
        keep = F.col("is_interior") | pip_keep
    else:
        # the interior flag rides INTO the UDF (one bool column) so the
        # numpy kernel skips fast-accept rows; boolean-identical to
        # `is_interior | pip(...)` outside
        pip_udf = make_pip_udf(polygons, with_interior=True)
        keep = pip_udf(F.col("polygon_id"), F.col("lat"), F.col("lon"),
                       F.col("is_interior"))
    return joined.where(keep).select("url", "layer", "polygon_id")
