"""Cell-union (tile) algebra over DataFrames (SURVEY.md §2.3 U1-U11).

A cell-union column set is a DataFrame of (geom_id, cell_id) rows — the
relational form of S2CellUnion (exploded, per SURVEY §1.2).  Operations
are pure Spark SQL on the signed int64 bit patterns:

- containment/intersection tests are range predicates on
  (range_min, range_max) = id -/+ (lsb-1) — no UDF,
- union is unionByName + per-geometry normalize (applyInPandas over the
  numpy kernel only for the sibling-merge, which SQL can't express),
- leaf counts are aggregates over level bit math.

At scale these are map-side-partial aggregates and broadcast range
joins; nothing shuffles the big side except groupBy(geom) for normalize.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cell_parent
from ..kernel.coverer import denormalize as _denormalize_list
from ..kernel.coverer import difference as _difference_list
from ..kernel.coverer import expand as _expand_list
from ..kernel.coverer import normalize as _normalize_list


def lsb_col(cell: F.Column) -> F.Column:
    return cell.bitwiseAND(-cell)


def range_min_col(cell: F.Column) -> F.Column:
    return cell - (lsb_col(cell) - F.lit(1))


def range_max_col(cell: F.Column) -> F.Column:
    return cell + (lsb_col(cell) - F.lit(1))


def level_col(cell: F.Column) -> F.Column:
    return (F.lit(30) -
            F.shiftright(F.bit_count(lsb_col(cell) - F.lit(1)), 1))


def leaf_cells_covered(cells: DataFrame, geom: str = "geom_id",
                       cell: str = "cell_id") -> DataFrame:
    """U9: sum of 4^(30-level) per geometry (S2CellUnion.kt:354-402)."""
    width = (range_max_col(F.col(cell)) - range_min_col(F.col(cell))) / \
        F.lit(2) + F.lit(1)
    return (cells.groupBy(geom)
            .agg(F.sum(width.cast("decimal(38,0)")).alias("n_leaves")))


def contains_cell_join(cells: DataFrame, probes: DataFrame,
                       probe_cell: str = "cell_id") -> DataFrame:
    """U3 as a join: probe rows whose cell is contained by the union.

    For normalized unions a probe is contained iff a single union cell
    contains it (see coverer.normalize invariants), so this is a range
    semi-join on the ancestor chain — expressed as equality on the
    union-cell levels to stay a hash join.

    The ancestor bit math is only valid for union levels <= the probe's
    own level (a coarser probe would yield a *descendant* of itself,
    matching spuriously — S2CellUnion.contains handles both directions);
    levels finer than the probe are guarded to NULL and filtered."""
    levels = [r[0] for r in
              cells.select(level_col(F.col("cell_id")).alias("l"))
              .distinct().collect()]
    probe_level = level_col(F.col(probe_cell))
    parents = F.array(*[
        F.when(probe_level >= F.lit(lv),
               cell_parent(F.col(probe_cell), lv).cast("long"))
        for lv in sorted(levels)
    ])
    probe = probes.withColumn("__probe", F.explode(parents)) \
        .where(F.col("__probe").isNotNull())
    return probe.join(
        F.broadcast(cells.select(F.col("cell_id").alias("__probe"),
                                 "geom_id")),
        "__probe", "left_semi").drop("__probe")


def normalize_df(cells: DataFrame) -> DataFrame:
    """U1 across a DataFrame: groupBy(geom).applyInPandas(normalize)."""
    def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["cell_id"].to_numpy(dtype=np.int64)
        uids = ids.view(np.uint64)
        out = _normalize_list([int(u) for u in uids])
        signed = [u - (1 << 64) if u >= (1 << 63) else u for u in out]
        return pd.DataFrame({"geom_id": pdf["geom_id"].iloc[0],
                             "cell_id": signed})
    return (cells.groupBy("geom_id")
            .applyInPandas(_norm, "geom_id long, cell_id long"))


def intersection(a: DataFrame, b: DataFrame) -> DataFrame:
    """U5: per-geometry intersection of two normalized unions.

    Two aligned cell ranges are nested or disjoint, so the intersection
    is the smaller cell of each overlapping pair — a range join where
    one side contains the other."""
    aa = a.select(F.col("geom_id"),
                  F.col("cell_id").alias("ca"),
                  range_min_col(F.col("cell_id")).alias("amin"),
                  range_max_col(F.col("cell_id")).alias("amax"))
    bb = b.select(F.col("geom_id"),
                  F.col("cell_id").alias("cb"),
                  range_min_col(F.col("cell_id")).alias("bmin"),
                  range_max_col(F.col("cell_id")).alias("bmax"))
    j = aa.join(bb, "geom_id").where(
        (F.col("bmin") <= F.col("amax")) & (F.col("bmax") >= F.col("amin")))
    smaller = F.when(
        (F.col("amin") >= F.col("bmin")) & (F.col("amax") <= F.col("bmax")),
        F.col("ca")).otherwise(F.col("cb"))
    return j.select("geom_id", smaller.alias("cell_id")).distinct()


def _unsigned(signed_ids) -> list[int]:
    return [s + (1 << 64) if s < 0 else s for s in signed_ids]


def _signed_list(uids) -> list[int]:
    return [u - (1 << 64) if u >= (1 << 63) else u for u in uids]


def difference_df(a: DataFrame, b: DataFrame,
                  denorm_level: int | None = None) -> DataFrame:
    """U7 across DataFrames: per-geometry a \\ b via cogrouped
    applyInPandas over the divide-and-conquer kernel
    (S2CellUnion.kt:279-291).  Optionally denormalizes the result to a
    fixed level (U2) so downstream consumers get a uniform grid.

    Geometries are small unions (coverings); the cogroup shuffles only
    (geom_id, cell_id) rows — never the big fact side."""
    def _diff(ka, pa: pd.DataFrame, pb: pd.DataFrame) -> pd.DataFrame:
        ua = _normalize_list(_unsigned(pa["cell_id"].tolist()))
        ub = _normalize_list(_unsigned(pb["cell_id"].tolist()))
        out = _difference_list(ua, ub)
        if denorm_level is not None:
            out = _denormalize_list(out, denorm_level, 1)
        return pd.DataFrame({"geom_id": ka[0],
                             "cell_id": _signed_list(out)})

    return (a.groupBy("geom_id").cogroup(b.groupBy("geom_id"))
            .applyInPandas(_diff, "geom_id long, cell_id long"))


def expand_union(cells: DataFrame, expand_level: int) -> DataFrame:
    """U8: add all neighbors at expand_level (S2CellUnion.kt:307-350) —
    buffered coverings for 'within distance d' joins."""
    def _expand(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _expand_list(_unsigned(pdf["cell_id"].tolist()),
                           level=expand_level)
        return pd.DataFrame({"geom_id": pdf["geom_id"].iloc[0],
                             "cell_id": _signed_list(out)})
    return (cells.groupBy("geom_id")
            .applyInPandas(_expand, "geom_id long, cell_id long"))
