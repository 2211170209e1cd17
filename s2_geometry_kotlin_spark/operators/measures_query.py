"""Driver-visible oracle for the M2/M3 measures family.

`polygon_loop_areas` emits (layer, polygon_id, loop_id, n_vertices,
area_sr) for every loop of the fixture layer, computed by the kernel's
loop area (fan of l'Huilier/Girard triangles with the Gauss-Bonnet sign
cross-check — kernel/measures.py loop_area, mirroring
S2LoopMeasures.kt:62-160).  The DuckDB oracle RECOMPUTES the same
quantity independently from the raw vertex coordinates using the
Van Oosterom–Strackee signed-excess formula

    E = 2 * atan2( a . (b x c), 1 + a.b + b.c + c.a )

summed over the fan — a different algorithm on the same inputs, so a
green row checks the measures kernel against independent spherical
trigonometry rather than replaying its output.  Both sides round to 9
decimals (the engines agree to ~1e-15; fixture areas are ~1e-5 sr).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

ROUND_DP = 9


def _loop_rows() -> list[tuple[str, int, int, int, float]]:
    from ..kernel.measures import loop_area
    from ..sources.layers import fixture_layer
    rows = []
    for layer, pid, poly in fixture_layer():
        for lid, lp in enumerate(poly.loops):
            rows.append((layer, pid, lid, len(lp.vertices),
                         round(float(loop_area(lp.vertices)), ROUND_DP)))
    return rows


def polygon_loop_areas(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, _loop_rows(),
        "layer string, polygon_id long, loop_id long, "
        "n_vertices long, area_sr double")


def _vertex_values_sql() -> str:
    from ..sources.layers import fixture_layer
    vals = []
    for layer, pid, poly in fixture_layer():
        for lid, lp in enumerate(poly.loops):
            for seq, v in enumerate(lp.vertices):
                vals.append(f"('{layer}', {pid}, {lid}, {seq}, "
                            f"{v[0]!r}, {v[1]!r}, {v[2]!r})")
    return ",\n".join(vals)


def polygon_loop_areas_sql() -> str:
    """Independent recomputation: fan triangulation from vertex 0 with
    the Van Oosterom–Strackee signed spherical excess per triangle,
    normalized into [0, 4pi) exactly as loop_area does for the
    CCW-stored loops."""
    return f"""
WITH verts(layer, polygon_id, loop_id, seq, x, y, z) AS (VALUES
{_vertex_values_sql()}
),
tri AS (
  SELECT a.layer, a.polygon_id, a.loop_id,
    2 * atan2(
      a.x * (b.y * c.z - b.z * c.y)
      - a.y * (b.x * c.z - b.z * c.x)
      + a.z * (b.x * c.y - b.y * c.x),
      1 + (a.x * b.x + a.y * b.y + a.z * b.z)
        + (b.x * c.x + b.y * c.y + b.z * c.z)
        + (c.x * a.x + c.y * a.y + c.z * a.z)
    ) AS e
  FROM verts a
  JOIN verts b ON b.layer = a.layer AND b.polygon_id = a.polygon_id
    AND b.loop_id = a.loop_id
  JOIN verts c ON c.layer = a.layer AND c.polygon_id = a.polygon_id
    AND c.loop_id = a.loop_id AND c.seq = b.seq + 1
  WHERE a.seq = 0 AND b.seq >= 1
),
sums AS (
  SELECT layer, polygon_id, loop_id, SUM(e) AS s
  FROM tri GROUP BY 1, 2, 3
),
nv AS (
  SELECT layer, polygon_id, loop_id,
         CAST(COUNT(*) AS BIGINT) AS n_vertices
  FROM verts GROUP BY 1, 2, 3
)
SELECT s.layer AS layer, CAST(s.polygon_id AS BIGINT) AS polygon_id,
       CAST(s.loop_id AS BIGINT) AS loop_id, nv.n_vertices AS n_vertices,
       ROUND(CASE WHEN s.s < 0 THEN s.s + 4 * pi() ELSE s.s END,
             {ROUND_DP}) AS area_sr
FROM sums s
JOIN nv ON nv.layer = s.layer AND nv.polygon_id = s.polygon_id
  AND nv.loop_id = s.loop_id
"""
