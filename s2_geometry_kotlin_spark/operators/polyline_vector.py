"""Polyline-vector layer assembly as a Spark operator.

`kernel/builder_snap.build_polyline_vector_layer` implements
S2PolylineVectorLayer (builder/layers/S2PolylineVectorLayer.kt):
snap-round a bag of input polylines against one shared site set and
assemble the combined edge multiset into MULTIPLE output polylines
(PATH or WALK), with duplicate-edge merge and sibling-pair discard.
This module is the data-scale surface: an Arrow-batched mapInPandas
over a DataFrame of assembly CASES (each row carries its input
polylines in latlng text plus the layer options), emitting one row per
output polyline with its vertex count and e7-rounded endpoints.

Plan shape at 100 TB: one narrow projection into a mapInPandas stage —
cases partition arbitrarily (each row is an independent assembly
problem, e.g. one vehicle-track bundle or one road-segment tile), no
shuffle, no driver collection; kernel cost is per-row O(edges^2) over
layer-sized geometry, the same contract as the other layer kernels.

The fixture cases are the ported reference suite
(tests/test_polyline_vector_layer_fixtures.py, from
S2PolylineVectorLayerUnitTest.kt), whose outputs over fixed inputs are
deterministic constants — so the oracle is a pinned VALUES table
(full value-hash check), the mixed_boolean_counts pattern.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

RESULT_SCHEMA = ("case_id long, line_idx long, n_vertices long, "
                 "lat0_e7 long, lng0_e7 long, lat1_e7 long, "
                 "lng1_e7 long")

# (case_id, lines ';'-joined, edge_type, polyline_type, duplicate_edges,
#  sibling_pairs, snap_exponent or None) — the ported reference cases
FIXTURE_CASES = [
    (0, "0:0, 1:1, 2:2; 4:4, 3:3",
     "directed", "path", "keep", "keep", None),
    (1, "1:1, 2:2; 3:3, 2:2; 0:0, 1:1",
     "directed", "path", "keep", "keep", None),
    (2, "1:1, 2:2; 3:3, 2:2; 0:0, 1:1",
     "undirected", "path", "keep", "keep", None),
    (3, ("0:0, 1:1, 2:2; 2:2, 2:3, 2:4; 2:4, 3:4, 4:4; "
         "2:2, 3:2, 4:2; 4:2, 4:3, 4:4; 1:0, 2:2; 0:1, 2:2; "
         "5:4, 4:4; 4:5, 4:4; 2:4, 2:5, 1:5, 1:4, 2:4; "
         "4:2, 6:1, 5:0; 4:2, 7:0, 6:-1; "
         "11:1, 11:0, 10:0, 10:1, 11:1"),
     "directed", "path", "keep", "keep", None),
    (4, "0:1, 1:1; 1:0, 1:1, 1:2; 0:2, 1:2, 2:2; 2:1, 2:2, 2:3",
     "directed", "walk", "keep", "keep", None),
    (5, ("0:10, 0:0; 0:6, 1:6, 1:7, 0:7, 0:8; "
         "0:8, 1:8, 1:9, 0:9, 0:10; 0:2, 1:2, 1:3, 0:3, 0:4; "
         "0:0, 1:0, 1:1, 0:1, 0:2; 0:4, 1:4, 1:5, 0:5, 0:6"),
     "directed", "walk", "keep", "discard", 7),
    (6, "0:0, 0:1, 0:2; 0:3, 0:2, 0:1; 0:4, 0:5",
     "undirected", "path", "merge", "keep", None),
]


def fixture_cases(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, FIXTURE_CASES,
        "case_id long, lines string, edge_type string, "
        "polyline_type string, duplicate_edges string, "
        "sibling_pairs string, snap_exponent int")


def assemble_table(cases: DataFrame) -> DataFrame:
    """cases -> one row per output polyline: vertex count + e7-rounded
    first/last latlng (snapped outputs land exactly on e7 grid points
    for IntLatLng snaps; identity-snap outputs are input vertices)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..kernel import cellid as ck
        from ..kernel.builder_snap import (IntLatLngSnap,
                                           build_polyline_vector_layer)
        from ..kernel.textparser import parse_latlngs

        def pts(text: str) -> np.ndarray:
            lls = parse_latlngs(text)
            lat = np.array([a for a, _ in lls])
            lng = np.array([b for _, b in lls])
            x, y, z = ck.latlng_deg_to_xyz(lat, lng)
            return np.stack([x, y, z], axis=1)

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                snap = (IntLatLngSnap(int(row.snap_exponent))
                        if row.snap_exponent is not None and
                        not pd.isna(row.snap_exponent) else None)
                lines = [pts(s) for s in str(row.lines).split(";")]
                got = build_polyline_vector_layer(
                    lines, snap=snap, edge_type=row.edge_type,
                    polyline_type=row.polyline_type,
                    duplicate_edges=row.duplicate_edges,
                    sibling_pairs=row.sibling_pairs)
                for idx, g in enumerate(got):
                    la, lo = ck.xyz_to_latlng_deg(
                        g[:, 0], g[:, 1], g[:, 2])
                    out.append((int(row.case_id), idx, len(g),
                                int(round(la[0] * 1e7)),
                                int(round(lo[0] * 1e7)),
                                int(round(la[-1] * 1e7)),
                                int(round(lo[-1] * 1e7))))
            yield pd.DataFrame(out, columns=[
                "case_id", "line_idx", "n_vertices", "lat0_e7",
                "lng0_e7", "lat1_e7", "lng1_e7"])

    return cases.mapInPandas(run, RESULT_SCHEMA)


def q_polyline_vector_layer(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """The driver-visible surface of the polyline-vector assembly
    engine: all fixture cases, one row per output polyline.  The
    construction is non-SQL-expressible, but its outputs over the fixed
    cases are deterministic constants independently pinned by the
    ported reference suite, so the oracle is the PINNED_RESULTS VALUES
    table (full value-hash check)."""
    return assemble_table(fixture_cases(spark)).orderBy(
        "case_id", "line_idx")


# Deterministic constants over FIXTURE_CASES, independently pinned by
# tests/test_polyline_vector_layer_fixtures.py (the ported reference
# expectations) and by tests/test_polyline_vector_operator.py, which
# fails CI if the kernel ever drifts from this literal.
PINNED_RESULTS: list[tuple] = [
    (0, 0, 3, 0, 0, 20000000, 20000000),
    (0, 1, 2, 40000000, 40000000, 30000000, 30000000),
    (1, 0, 2, 30000000, 30000000, 20000000, 20000000),
    (1, 1, 3, 0, 0, 20000000, 20000000),
    (2, 0, 4, 30000000, 30000000, 0, 0),
    (3, 0, 3, 0, 0, 20000000, 20000000),
    (3, 1, 3, 20000000, 20000000, 20000000, 40000000),
    (3, 2, 3, 20000000, 40000000, 40000000, 40000000),
    (3, 3, 3, 20000000, 20000000, 40000000, 20000000),
    (3, 4, 3, 40000000, 20000000, 40000000, 40000000),
    (3, 5, 2, 10000000, 0, 20000000, 20000000),
    (3, 6, 2, 0, 10000000, 20000000, 20000000),
    (3, 7, 2, 50000000, 40000000, 40000000, 40000000),
    (3, 8, 2, 40000000, 50000000, 40000000, 40000000),
    (3, 9, 5, 20000000, 40000000, 20000000, 40000000),
    (3, 10, 3, 40000000, 20000000, 50000000, 0),
    (3, 11, 3, 40000000, 20000000, 60000000, -10000000),
    (3, 12, 5, 110000000, 10000000, 110000000, 10000000),
    (4, 0, 2, 0, 10000000, 10000000, 10000000),
    (4, 1, 3, 10000000, 0, 10000000, 20000000),
    (4, 2, 3, 0, 20000000, 20000000, 20000000),
    (4, 3, 3, 20000000, 10000000, 20000000, 30000000),
    (5, 0, 5, 0, 10000000, 0, 10000000),
    (5, 1, 5, 0, 30000000, 0, 30000000),
    (5, 2, 5, 0, 50000000, 0, 50000000),
    (5, 3, 5, 0, 70000000, 0, 70000000),
    (5, 4, 5, 0, 90000000, 0, 90000000),
    (6, 0, 4, 0, 0, 0, 30000000),
    (6, 1, 2, 0, 40000000, 0, 50000000),
]


def polyline_vector_oracle_sql() -> str:
    rows = ",\n  ".join(
        f"({c}, {i}, {n}, {a0}, {b0}, {a1}, {b1})"
        for c, i, n, a0, b0, a1, b1 in PINNED_RESULTS)
    return (
        "SELECT CAST(case_id AS BIGINT) AS case_id, "
        "CAST(line_idx AS BIGINT) AS line_idx, "
        "CAST(n_vertices AS BIGINT) AS n_vertices, "
        "CAST(lat0_e7 AS BIGINT) AS lat0_e7, "
        "CAST(lng0_e7 AS BIGINT) AS lng0_e7, "
        "CAST(lat1_e7 AS BIGINT) AS lat1_e7, "
        "CAST(lng1_e7 AS BIGINT) AS lng1_e7 FROM (VALUES\n  "
        + rows + "\n) AS t(case_id, line_idx, n_vertices, lat0_e7, "
        "lng0_e7, lat1_e7, lng1_e7) ORDER BY case_id, line_idx")
