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
   S2Loop.bruteForceContains, triage then exact escalation) in one
   Arrow-batched pandas UDF that also takes the interior flag.  This is
   the join's only verdict path.

Strategies (each returns the same rows):
- "broadcast": covering is broadcast; pages never shuffle.  Right when
  layers are small (the common case; reference's brute-force-vs-index
  cutover analogue).
- "salted": shuffle hash join with explicit hot-cell salting — the
  covering side is replicated nsalt ways, the pages side picks
  pmod(xxhash64(url), nsalt).  Handles the north_rule's "explicit skew
  handling" when a single covering cell matches a huge page population
  (AQE alone cannot split one hot *key* of a broadcast join).
- "range": S2CellIndex stabbing — one binary search per page against
  the kernel.cell_index rangeNodes of the unclamped covering.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BooleanType, IntegerType

from ..functions import ancestors_at
from ..kernel import cellid as ck
from ..kernel import pip
from ..kernel.cell_index import CellIndex
from ..kernel.coverer import RegionCoverer, content_key, expand, memoized
from ..kernel.regions import Cells, Polygon
from ..session import local_frame


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
            cells = coverer.get_covering(poly)
            interior = poly.contains_cells(Cells.from_ids(cells))
            for cid, inside in zip(cells, interior.tolist()):
                rows.append((
                    layer, pid, _signed(cid), ck.sc_level(cid),
                    _signed(ck.sc_range_min(cid)),
                    _signed(ck.sc_range_max(cid)), inside,
                ))
        return rows

    return memoized(("layer", content_key(polygons), max_cells, min_level,
                     max_level, level_mod), compute)


_COV_SCHEMA = ("layer string, polygon_id long, cell_id long, level int, "
               "range_min long, range_max long, is_interior boolean")


def make_pip_udf(polygons: list[tuple[str, int, Polygon]]):
    """Arrow-batched verify UDF: (polygon_id, lat, lon, is_interior) ->
    contained.

    The polygon vertex arrays ride in the UDF closure (broadcast by Spark
    with the task binary — layers are small by design).

    The candidate's is_interior flag rides INTO the UDF, and the numpy
    PIP kernel is SKIPPED for interior fast-accept rows (they are
    contained by construction).  The post-UDF filter
    `is_interior OR pip(...)` cannot skip that compute: ArrowEvalPython
    evaluates the UDF column for every input row before the filter runs
    (guide §4 — Python UDFs are hoisted out of boolean expressions into
    their own plan node).  The skip pays most on the range/stabbing
    path, whose unclamped covering makes ~34% of candidates interior;
    the clamped broadcast covering sees ~1%."""
    loops_by_pid: dict[int, list[np.ndarray]] = {
        pid: [lp.vertices for lp in poly.loops]
        for _, pid, poly in polygons
    }
    inv_by_pid = {pid: bool(getattr(poly, "inverted", False))
                  for _, pid, poly in polygons}

    @pandas_udf(BooleanType())
    def pip_contains_i(polygon_id: pd.Series, lat: pd.Series,
                       lon: pd.Series, is_interior: pd.Series) -> pd.Series:
        out = is_interior.to_numpy(dtype=bool).copy()
        todo = ~out
        if todo.any():
            pids = polygon_id.to_numpy(dtype=np.int64)[todo]
            x, y, z = ck.latlng_deg_to_xyz(
                lat.to_numpy(dtype=np.float64)[todo],
                lon.to_numpy(dtype=np.float64)[todo])
            pts = np.stack([x, y, z], axis=1)
            res = np.zeros(len(pids), dtype=bool)
            for pid in np.unique(pids):
                mask = pids == pid
                res[mask] = pip.polygon_contains_points(
                    loops_by_pid[int(pid)], pts[mask],
                    inverted=inv_by_pid[int(pid)])
            out[todo] = res
        return pd.Series(out)

    return pip_contains_i


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
    cov = local_frame(
        spark, rows, "layer string, polygon_id long, cell_id long, level int")
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
    """S2CellIndex in range form (kernel.cell_index.CellIndex, the port
    of index/cell/S2CellIndex.kt): every covering row is added with its
    row index as the label, and build() sweeps them into rangeNodes, a
    sorted partition of the leaf range.  A range's refs are the rows
    whose cells contain it: its deepest cell and that cell's parent
    chain.  A page is then located with ONE binary search instead of
    one probe-row per covering level — no probe-side explode at all, so
    this path can use the UNCLAMPED covering (every level, tighter
    boundary, more interior fast-accepts).

    Returns (starts_u64, offsets, refs, meta_rows): range start keys
    (uint64, ascending, led by an empty range at 0, below every leaf),
    flattened ref lists, and per-ref (ref, layer, polygon_id,
    is_interior) metadata."""
    rows = build_covering_rows(polygons, max_cells, min_level=0,
                               max_level=30, level_mod=1)
    index = CellIndex()
    for idx, row in enumerate(rows):
        index.add(row[2] % (1 << 64), idx)
    index.build()
    seg_refs: list[list[int]] = [[]]
    for node in index.range_contents:
        refs = []
        while node >= 0:
            refs.append(index.cell_tree[node].label)
            node = index.cell_tree[node].parent
        seg_refs.append(sorted(refs))
    offsets = np.zeros(len(seg_refs) + 1, dtype=np.int64)
    offsets[1:] = np.cumsum([len(refs) for refs in seg_refs])
    flat = np.array([r for refs in seg_refs for r in refs],
                    dtype=np.int32)
    meta = [(idx, layer, pid, bool(interior))
            for idx, (layer, pid, _, _, _, _, interior)
            in enumerate(rows)]
    return (np.array([0, *index.range_starts], dtype=np.uint64), offsets,
            flat, meta)


def make_stab_udf(starts: np.ndarray, offsets: np.ndarray,
                  refs: np.ndarray):
    """Arrow-batched stabbing query: leaf cell id -> active covering-row
    refs (the index arrays ride in the closure; KB-sized for layer
    tables).  A null id reads as 0 and lands in the empty range at 0
    (a plain int64 cast would read it as int64 min, a real leaf range)."""

    @pandas_udf(ArrayType(IntegerType()))
    def stab(cell_id: pd.Series) -> pd.Series:
        c = cell_id.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        seg = np.searchsorted(starts, c, side="right") - 1
        return pd.Series([refs[offsets[k]:offsets[k + 1]].tolist()
                          for k in seg])

    return stab


def spatial_join(pages: DataFrame, spark: SparkSession,
                 polygons: list[tuple[str, int, Polygon]],
                 max_cells: int = 32, strategy: str = "broadcast",
                 nsalt: int = 8, verify: str = "kernel") -> DataFrame:
    """pages(url, lat, lon, cell_id) x polygon layer -> (url, layer,
    polygon_id).  Exactly the rows whose point is contained (SEMI_OPEN).

    verify="kernel" (the only answer path): Arrow numpy PIP with the
    robust-predicate ladder (triage -> exact escalation), bit-compatible
    with the reference's S2Loop predicates.  verify="none" returns the
    covering-join candidates unverified (a diagnostic stage split, never
    a query answer).  Any other value raises ValueError.

    strategy="range" is the S2CellIndex stabbing path: one Arrow binary
    search per page against the index's rangeNodes instead of a
    probe-row per covering level — no probe explode, unclamped (tighter)
    coverings, broadcast ref->metadata join.

    nsalt (salted only, default 8).  The salt count is a DATA-size knob,
    not a core-count knob: the hot coarse covering cells hold rows
    proportional to corpus size, so the spread that is optimal at one
    scale under-spreads at 10x.  Measured (same-session A/B, 32 cores):
    at 2M/8M pages nsalt=8 wins (1.36/2.68 s vs 1.67/3.00 s at nsalt=32
    — extra covering replication and partition overhead); at 20M pages
    nsalt=32 wins 1.6x (5.1 s vs 8.3 s — nsalt=8 leaves ~2M-row
    hot-cell partitions whose verify straggles; AQE skew split does not
    fire because the partitions are far below
    skewedPartitionThresholdInBytes).  For large runs pass
    nsalt ~ rows_per_hot_cell / 250k.
    """
    if verify not in ("kernel", "none"):
        raise ValueError(f"unknown verify {verify!r}")
    if strategy == "range":
        starts, offsets, flat, meta = build_range_index(polygons,
                                                        max_cells)
        stab = make_stab_udf(starts, offsets, flat)
        meta_df = local_frame(
            spark, meta, "ref int, layer string, polygon_id long, "
                         "is_interior boolean")
        # A scalar-seg variant (vectorized searchsorted returning one
        # int, then a broadcast (seg -> covering row) join: no per-row
        # Python list, no Generate) measured only ~5% faster at sf0.1
        # in round 8, and was reverted because, over the pure-Column
        # cell-id encode of that time, planning the join ran the driver
        # out of memory.  That encode is gone (pages get their cell id
        # from the Arrow `s2_cellid` in `sources.pages.geocode`), so the
        # reason no longer holds; the variant is not yet re-measured.
        joined = (pages.withColumn("ref",
                                   F.explode(stab(F.col("cell_id"))))
                  .join(F.broadcast(meta_df), "ref", "inner"))
    else:
        rows = build_covering_rows(polygons, max_cells)
        cov = local_frame(spark, rows, _COV_SCHEMA)
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

    if verify == "none":
        # diagnostic stage split for the bench: candidate rows straight
        # from the covering join, NO containment verify — a superset of
        # the true result, never a query answer.  Lets a cross-round
        # wall-time drift be attributed to the shuffle/join stage vs
        # the verify stage.
        return joined.select("url", "layer", "polygon_id")
    # single pass: interior fast-accept OR exact PIP — one scan of the
    # pages side (a union of two branches would recompute the whole
    # upstream chain twice when the input is not materialized)
    keep = make_pip_udf(polygons)(F.col("polygon_id"), F.col("lat"),
                                  F.col("lon"), F.col("is_interior"))
    return joined.where(keep).select("url", "layer", "polygon_id")
