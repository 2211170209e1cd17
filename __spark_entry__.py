"""Driver contract for the spark-graft builder (PySpark target).

Queries pair a Spark DataFrame implementation (the engine) with an ANSI-SQL
DuckDB oracle over the same parquet tables.  The geometry math in the
oracles is generated from the same constants as the numpy kernel
(s2_geometry_kotlin_spark/functions/sqlgen.py) — a genuinely independent
execution of the same semantics, verified bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2_geometry_kotlin_spark import functions as s2f
from s2_geometry_kotlin_spark.functions import sqlgen
from s2_geometry_kotlin_spark.sources import pages as P


def _geo_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages with parsed coordinates and leaf cell ids."""
    return P.geocode(P.load_pages(spark, sf_dir))


def _geo_pages_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geocoded pages as (url, cell_id, x, y, z), the kNN operators'
    input."""
    x, y, z = s2f.xyz_cols("lat", "lon")
    return _geo_pages(spark, sf_dir).select(
        "url", "cell_id", x.alias("x"), y.alias("y"), z.alias("z"))


_GEO_SRC_DUCK = (
    "SELECT url, "
    f"CAST(regexp_extract(text, '{P.GEO_REGEX}', 1) AS DOUBLE) AS lat, "
    f"CAST(regexp_extract(text, '{P.GEO_REGEX}', 2) AS DOUBLE) AS lon "
    "FROM pages WHERE text LIKE '%GEO(%'"
)


def _henc_with() -> str:
    """WITH-chain producing cte `henc(url, cell_id)` from pages."""
    inner = sqlgen.cellid_from_latlng_query(_GEO_SRC_DUCK, "url")
    # splice the pages cte in front of the generated chain
    return inner.replace("WITH ", "WITH " + P.pages_cte_duckdb() + ",\n", 1)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_geoparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 input path: regex coordinate extraction from text."""
    return (P.geoparse(P.load_pages(spark, sf_dir))
            .where(F.col("lat").isNotNull())
            .select("url", "lat", "lon"))


def q_cell_leaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: leaf (level-30) S2 cell id per geocoded page."""
    return _geo_pages(spark, sf_dir).select("url", "cell_id")


def q_cell_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 + E15: ancestor cells at levels 4/8/12/16 by pure bit math,
    plus the order-preserving hex token of the level-12 ancestor
    (board-consolidated round 6: the former cell_token row folded in so
    the registry fits the driver's 50-row cap — both operators stay
    value-checked)."""
    df = _geo_pages(spark, sf_dir)
    l12 = s2f.cell_parent(F.col("cell_id"), 12)
    return df.select(
        "url",
        s2f.cell_parent(F.col("cell_id"), 4).alias("cell_l4"),
        s2f.cell_parent(F.col("cell_id"), 8).alias("cell_l8"),
        l12.alias("cell_l12"),
        s2f.cell_parent(F.col("cell_id"), 16).alias("cell_l16"),
        s2f.s2_token(l12).alias("token_l12"),
    )


def q_cell_center_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6/E7 + T1: decode the level-12 cell, compute its center, assign
    the raster tile of the center (vector -> raster conversion)."""
    df = _geo_pages(spark, sf_dir)
    l12 = s2f.cell_parent(F.col("cell_id"), 12)
    center = s2f.s2_cell_center(l12).alias("c")
    df = df.select("url", center)
    return df.select(
        "url",
        F.round("c.lat", 9).alias("center_lat_r"),
        s2f.tile_index(F.col("c.lat"), F.col("c.lon")).alias("tile_c"))


def q_tile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 both legs in one query (board-consolidated from the former
    tile_index + tile_to_cell rows): every geocoded page is assigned its
    uniform 1-degree raster tile (Tiles.kt:103-119) — the per-page
    assignments surface as the per-tile page count — and each occupied
    tile's center is mapped back to its leaf S2 cell
    (Tiles.tileBounds/tileCenter -> S2CellId, the raster -> vector
    inverse of cell_center_tile)."""
    df = P.geoparse(P.load_pages(spark, sf_dir)).where(
        F.col("lat").isNotNull())
    tiles = (df.groupBy(s2f.tile_index(F.col("lat"), F.col("lon"))
                        .alias("tile"))
               .agg(F.count("*").alias("n_pages")))
    center_lat = (F.floor(F.col("tile") / F.lit(360)) + F.lit(0.5)) - 90.0
    center_lon = (F.col("tile") % F.lit(360) + F.lit(0.5)) - 180.0
    return (tiles.withColumn("clat", center_lat)
            .withColumn("clon", center_lon)
            .select("tile", "n_pages", s2f.s2_cellid("clat", "clon")
                    .alias("center_cell")))


def _tile_roundtrip_oracle_sql() -> str:
    tile_expr = (
        f"CAST(floor((CAST(regexp_extract(text, '{P.GEO_REGEX}', 1) "
        f"AS DOUBLE) - (-90.0)) / 1.0) AS BIGINT) * 360 + "
        f"CAST(floor((CAST(regexp_extract(text, '{P.GEO_REGEX}', 2) "
        f"AS DOUBLE) - (-180.0)) / 1.0) AS BIGINT)")
    src = (f"SELECT tile, n_pages, (CAST(tile // 360 AS DOUBLE) + 0.5) "
           f"- 90.0 AS lat, (CAST(tile % 360 AS DOUBLE) + 0.5) - 180.0 "
           f"AS lon FROM (SELECT {tile_expr} AS tile, COUNT(*) AS "
           f"n_pages FROM pages WHERE text LIKE '%GEO(%' GROUP BY 1) t")
    inner = sqlgen.cellid_from_latlng_query(src, "tile, n_pages")
    return (inner.replace("WITH ", "WITH " + P.pages_cte_duckdb() + ",\n", 1)
            + "\nSELECT tile, n_pages, cell_id AS center_cell FROM henc")


def q_lang_cell_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation push-down probe: pages + distinct hosts per (lang, l4),
    plus the skew probe folded in (board-consolidated from the former
    hot_cells row): n_hot_l12 counts the level-12 cells inside the group
    holding >= 5 of the group's pages — the per-l12 counts the salted
    join's skew handling keys on."""
    from pyspark.sql import Window
    # single lineage: a self-join of two aggregates over _geo_pages
    # would scan, geoparse and encode the pages twice; the window + one
    # groupBy keeps one copy of the scan and two well-keyed shuffles
    df = (_geo_pages(spark, sf_dir)
          .select("lang", "url",
                  s2f.cell_parent(F.col("cell_id"), 4).alias("cell_l4"),
                  s2f.cell_parent(F.col("cell_id"), 12).alias("cell_l12")))
    w = Window.partitionBy("lang", "cell_l4", "cell_l12")
    df = df.withColumn("n12", F.count("*").over(w))
    return (df.groupBy("lang", "cell_l4")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct(F.regexp_extract(
                     "url", r"https://([^/]+)/", 1)).alias("n_hosts"),
                 F.countDistinct(F.when(F.col("n12") >= 5,
                                        F.col("cell_l12")))
                  .alias("n_hot_l12")))


_LAYER_CACHE = None


def _layer():
    global _LAYER_CACHE
    if _LAYER_CACHE is None:
        from s2_geometry_kotlin_spark.sources.layers import fixture_layer
        _LAYER_CACHE = fixture_layer()
    return _LAYER_CACHE


def q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5 + C1: covering prejoin + interior fast-accept + exact PIP."""
    from s2_geometry_kotlin_spark.operators.spatial_join import spatial_join
    return spatial_join(_geo_pages(spark, sf_dir), spark, _layer(),
                        strategy="broadcast")


def q_spatial_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join, salted shuffle-hash plan (north_rule skew handling)."""
    from s2_geometry_kotlin_spark.operators.spatial_join import spatial_join
    return spatial_join(_geo_pages(spark, sf_dir), spark, _layer(),
                        strategy="salted")


def q_spatial_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join via the S2CellIndex rangeNodes stabbing path: one Arrow
    binary search per page against the swept covering segments, no
    probe-side explode, unclamped coverings."""
    from s2_geometry_kotlin_spark.operators.spatial_join import spatial_join
    return spatial_join(_geo_pages(spark, sf_dir), spark, _layer(),
                        strategy="range")


WITHIN_RADIUS_RAD = 100000.0 / 6371010.0  # 100 km


def q_within_100km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U8 + D2/D9: pages within 100 km of a polygon (buffered covering
    prejoin + exact point-edge distance verify)."""
    from s2_geometry_kotlin_spark.operators.spatial_join import \
        within_distance_join
    return within_distance_join(_geo_pages(spark, sf_dir), spark, _layer(),
                                WITHIN_RADIUS_RAD)


def q_polygon_page_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship aggregate: contained pages per polygon."""
    return (q_spatial_join(spark, sf_dir)
            .groupBy("layer", "polygon_id")
            .agg(F.count("*").alias("n_pages")))


def _within_oracle_sql() -> str:
    from s2_geometry_kotlin_spark.functions.sqlgen import (
        within_distance_ctes, xyz_sql)
    from s2_geometry_kotlin_spark.kernel.distance import radians_to_chord2
    max_d2 = float(radians_to_chord2(WITHIN_RADIUS_RAD))
    return ("WITH " + P.pages_cte_duckdb() + ",\n"
            f"pgeo AS ({_GEO_SRC_DUCK}),\n"
            f"pxyz AS (SELECT url, {xyz_sql('lat', 'lon')} FROM pgeo),\n"
            + within_distance_ctes(_layer(), max_d2) + "\n"
            + "SELECT url, layer, polygon_id FROM withinjoin")


def _cell_center_tile_oracle_sql() -> str:
    from s2_geometry_kotlin_spark.functions.sqlgen import (
        cell_center_latlng_sql, hilbert_decode_ctes, lookup_ij_cte,
        parent_sql)
    henc = _henc_with()
    return (henc + ",\n" + lookup_ij_cte() + ",\n"
            "src12 AS (SELECT url, "
            + parent_sql("cell_id", 12) + " AS cell_id FROM henc),\n"
            + hilbert_decode_ctes("src12", "url") + ",\n"
            "centers AS (SELECT url, " + cell_center_latlng_sql()
            + " FROM hdec)\n"
            "SELECT url, round(center_lat, 9) AS center_lat_r, "
            "CAST(floor((center_lat - (-90.0)) / 1.0) AS BIGINT) * 360 + "
            "CAST(floor((center_lon - (-180.0)) / 1.0) AS BIGINT) AS tile_c "
            "FROM centers")


def _pip_oracle_sql(select: str) -> str:
    from s2_geometry_kotlin_spark.functions.sqlgen import (pip_join_ctes,
                                                           xyz_sql)
    return ("WITH " + P.pages_cte_duckdb() + ",\n"
            f"pgeo AS ({_GEO_SRC_DUCK}),\n"
            f"pxyz AS (SELECT url, {xyz_sql('lat', 'lon')} FROM pgeo),\n"
            + pip_join_ctes(_layer()) + "\n" + select)


def _bool_oracle_sql(op: str) -> str:
    """B3 oracle: membership in A op B BY DEFINITION — independent PIP
    verdicts against the operand polygons, combined with SQL boolean
    logic (the Spark side joins against the CONSTRUCTED polygon)."""
    from s2_geometry_kotlin_spark.functions.sqlgen import (pip_join_ctes,
                                                           xyz_sql)
    from s2_geometry_kotlin_spark.operators.booleans import (
        boolean_oracle_select, operand_layer)
    return ("WITH " + P.pages_cte_duckdb() + ",\n"
            f"pgeo AS ({_GEO_SRC_DUCK}),\n"
            f"pxyz AS (SELECT url, {xyz_sql('lat', 'lon')} FROM pgeo),\n"
            + pip_join_ctes(operand_layer()) + "\n"
            + boolean_oracle_select(op))


def _adjacent_union_oracle_sql() -> str:
    """Shared-border B3 oracle: membership in the constructed union BY
    DEFINITION — pages inside operand A OR operand B of each adjacent
    pair (independent PIP verdicts, SQL OR)."""
    from s2_geometry_kotlin_spark.functions.sqlgen import (pip_join_ctes,
                                                           xyz_sql)
    from s2_geometry_kotlin_spark.operators.booleans import adjacent_layer
    return ("WITH " + P.pages_cte_duckdb() + ",\n"
            f"pgeo AS ({_GEO_SRC_DUCK}),\n"
            f"pxyz AS (SELECT url, {xyz_sql('lat', 'lon')} FROM pgeo),\n"
            + pip_join_ctes(adjacent_layer()) + "\n"
            + "SELECT DISTINCT url, "
              "CAST(polygon_id // 2 AS BIGINT) AS pair_id FROM pipjoin")


def _snapped_oracle_sql() -> str:
    """B1 oracle: PIP replay over the snap-rounded layer's vertex
    constants (shared with the Spark side, like every layer oracle)."""
    from s2_geometry_kotlin_spark.functions.sqlgen import (pip_join_ctes,
                                                           xyz_sql)
    from s2_geometry_kotlin_spark.operators.snapping import snapped_layer
    return ("WITH " + P.pages_cte_duckdb() + ",\n"
            f"pgeo AS ({_GEO_SRC_DUCK}),\n"
            f"pxyz AS (SELECT url, {xyz_sql('lat', 'lon')} FROM pgeo),\n"
            + pip_join_ctes(snapped_layer()) + "\n"
            + "SELECT url, CAST(polygon_id AS BIGINT) AS polygon_id "
              "FROM pipjoin")


def _selfsplit_oracle_sql() -> str:
    """splitCrossingEdges oracle: PIP replay over the split-and-snapped
    bowtie rings' vertex constants (xor over the two lobes)."""
    from s2_geometry_kotlin_spark.functions.sqlgen import (pip_join_ctes,
                                                           xyz_sql)
    from s2_geometry_kotlin_spark.operators.snapping import \
        selfsplit_layer
    return ("WITH " + P.pages_cte_duckdb() + ",\n"
            f"pgeo AS ({_GEO_SRC_DUCK}),\n"
            f"pxyz AS (SELECT url, {xyz_sql('lat', 'lon')} FROM pgeo),\n"
            + pip_join_ctes(selfsplit_layer()) + "\n"
            + "SELECT url, CAST(polygon_id AS BIGINT) AS polygon_id "
              "FROM pipjoin")


def q_pages_in_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 INTERSECTION: pages inside constructed A∩B per fixture pair."""
    from s2_geometry_kotlin_spark.operators.booleans import pages_in_boolean
    return pages_in_boolean(_geo_pages(spark, sf_dir), spark,
                            "intersection")


def q_pages_in_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 UNION: pages inside constructed A∪B per fixture pair."""
    from s2_geometry_kotlin_spark.operators.booleans import pages_in_boolean
    return pages_in_boolean(_geo_pages(spark, sf_dir), spark, "union")


def q_pages_in_adjacent_union(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """B3 shared-boundary operands: pages inside the constructed union
    of two polygons sharing an EXACT border chain (adjacent admin
    polygons) — the case the reference resolves through
    CrossingProcessor's vertex-crossing machinery."""
    from s2_geometry_kotlin_spark.operators.booleans import \
        pages_in_adjacent_union
    return pages_in_adjacent_union(_geo_pages(spark, sf_dir), spark)


def q_pages_in_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 DIFFERENCE: pages inside constructed A−B per fixture pair."""
    from s2_geometry_kotlin_spark.operators.booleans import pages_in_boolean
    return pages_in_boolean(_geo_pages(spark, sf_dir), spark, "difference")


def q_pages_in_sym_difference(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """B3 SYMMETRIC_DIFFERENCE: pages inside constructed A⊕B per pair."""
    from s2_geometry_kotlin_spark.operators.booleans import pages_in_boolean
    return pages_in_boolean(_geo_pages(spark, sf_dir), spark,
                            "symmetric_difference")


# deterministic kNN query points: 8 hot cities + a coarse global grid
def _knn_queries() -> list[tuple[int, float, float]]:
    from s2_geometry_kotlin_spark.sources.pages import CITIES
    pts = [(i, lat / 1e6, lon / 1e6) for i, (lat, lon) in enumerate(CITIES)]
    qid = len(pts)
    for lat in (-60, -30, 0, 30, 60):
        for lon in (-150, -90, -30, 30, 90, 150):
            pts.append((qid, float(lat), float(lon)))
            qid += 1
    return pts


KNN_K = 8


def q_knn_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/D5: k nearest pages per query point (radius-escalating
    candidate join + window top-k)."""
    from s2_geometry_kotlin_spark.operators.knn import knn_points
    pages_xyz = _geo_pages_xyz(spark, sf_dir)
    # density hint from parquet metadata (count-only scan) — avoids a
    # full pipeline pass just to calibrate the seed radius
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    return knn_points(pages_xyz, spark, _knn_queries(), KNN_K,
                      n_pages_hint=int(n_docs * 0.9))


KNN_EDGES_K = 3
ROUTE_RADIUS_RAD = 150000.0 / 6371010.0  # 150 km


def q_knn_polygon_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/D4: k nearest polygon-boundary edges per page
    (S2ClosestEdgeQuery re-expressed as covering-seeded candidate join +
    pure-SQL point-edge distance + window top-k + DataFrame escalation)."""
    from s2_geometry_kotlin_spark.operators.edges import knn_edges
    return knn_edges(_geo_pages(spark, sf_dir), spark, _layer(),
                     KNN_EDGES_K)


_ROUTES = None


def _routes():
    global _ROUTES
    if _ROUTES is None:
        from s2_geometry_kotlin_spark.operators.routes import fixture_routes
        _ROUTES = fixture_routes()
    return _ROUTES


def q_pages_near_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/D2: pages within 150 km of a route polyline (buffered covering
    prejoin + min-fold exact distance, all JVM)."""
    from s2_geometry_kotlin_spark.operators.routes import pages_near_route
    return pages_near_route(_geo_pages(spark, sf_dir), spark, _routes(),
                            ROUTE_RADIUS_RAD)


def q_route_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 project (map-matching): snap near-route pages to the route,
    with along-route distance."""
    from s2_geometry_kotlin_spark.operators.routes import route_project
    return route_project(_geo_pages(spark, sf_dir), spark, _routes(),
                         ROUTE_RADIUS_RAD)


def q_route_crossing_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 (S2CrossingEdgeQuery): per route edge, the polygon-boundary
    edges it crosses — cell-keyed edge-index candidate join + P2
    verify."""
    from s2_geometry_kotlin_spark.operators.routes import \
        crossing_edges_indexed
    return crossing_edges_indexed(spark, _routes(), _layer())


def q_routes_cross_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P9: route-edge x polygon-boundary crossing counts."""
    from s2_geometry_kotlin_spark.operators.routes import \
        routes_cross_polygons
    return routes_cross_polygons(spark, _routes(), _layer())


KNN_FAR_K = 4


def q_knn_pages_farthest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 (max-distance targets): k farthest pages per query point via
    antipodal-cap coverings."""
    from s2_geometry_kotlin_spark.operators.knn import knn_points_farthest
    pages_xyz = _geo_pages_xyz(spark, sf_dir)
    return knn_points_farthest(pages_xyz, spark, _knn_queries()[:10],
                               KNN_FAR_K)


def q_closest_covering_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 (S2ClosestCellQuery): nearest covering cell of the layer's
    city_core coverings per page (labels = polygon ids)."""
    from s2_geometry_kotlin_spark.operators.cell_knn import \
        closest_covering_cell
    core = [p for p in _layer() if p[0] == "city_core"]
    return closest_covering_cell(_geo_pages(spark, sf_dir), spark, core)


PARIS_LAT, PARIS_LON = 48.8566, 2.3522


def q_bearing_to_paris(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: initial bearing from each page to Paris
    (S2Earth.getInitialBearing), degrees rounded to 1e-9."""
    df = P.geoparse(P.load_pages(spark, sf_dir)).where(
        F.col("lat").isNotNull())
    return df.select(
        "url",
        F.round(s2f.bearing_deg("lat", "lon", F.lit(PARIS_LAT),
                                F.lit(PARIS_LON)), 9).alias("bearing_r"))


def _bearing_oracle_sql() -> str:
    return ("WITH " + P.pages_cte_duckdb() + ",\n"
            f"pgeo AS ({_GEO_SRC_DUCK})\n"
            "SELECT url, round(degrees(atan2("
            f"sin(radians({PARIS_LON!r}) - radians(lon)) * "
            f"cos(radians({PARIS_LAT!r})), "
            f"sin(radians({PARIS_LAT!r}) - radians(lat)) + "
            f"sin(radians(lat)) * cos(radians({PARIS_LAT!r})) * 2 * "
            f"sin((radians({PARIS_LON!r}) - radians(lon)) / 2) * "
            f"sin((radians({PARIS_LON!r}) - radians(lon)) / 2)"
            ")), 9) AS bearing_r FROM pgeo")


def _knn_farthest_oracle_sql() -> str:
    import numpy as _np

    from s2_geometry_kotlin_spark.functions.sqlgen import xyz_sql
    from s2_geometry_kotlin_spark.kernel import cellid as _ck
    qrows = []
    for qid, lat, lon in _knn_queries()[:10]:
        x, y, z = _ck.latlng_deg_to_xyz(_np.array([lat]), _np.array([lon]))
        qrows.append(f"({qid},{float(x[0])!r},{float(y[0])!r},"
                     f"{float(z[0])!r})")
    return (
        "WITH " + P.pages_cte_duckdb() + ",\n"
        f"pgeo AS ({_GEO_SRC_DUCK}),\n"
        f"pxyz AS (SELECT url, {xyz_sql('lat', 'lon')} FROM pgeo),\n"
        f"qpts(query_id, qx, qy, qz) AS (VALUES {','.join(qrows)}),\n"
        "cand AS (SELECT q.query_id, p.url, "
        "(p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy) + "
        "(p.z-q.qz)*(p.z-q.qz) AS dist2 FROM pxyz p CROSS JOIN qpts q),\n"
        "ranked AS (SELECT query_id, url, dist2, row_number() OVER "
        "(PARTITION BY query_id ORDER BY dist2 DESC, url) AS rank "
        "FROM cand)\n"
        f"SELECT CAST(query_id AS BIGINT) AS query_id, url, "
        f"round(2.0 * 6371010.0 * asin(0.5 * sqrt(dist2)), 3) AS dist_m, "
        f"rank FROM ranked WHERE rank <= {KNN_FAR_K}")


def _closest_cell_oracle_sql() -> str:
    from s2_geometry_kotlin_spark.operators.cell_knn import \
        closest_covering_cell_sql
    core = [p for p in _layer() if p[0] == "city_core"]
    # the henc chain already defines pxyz(url, x, y, z); reuse it
    return _henc_with() + ",\n" + closest_covering_cell_sql(core)


_UNION_LANGS = ["de", "en", "es", "fr", "zh"]  # geom_id = index


def _lang_union8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(geom_id, cell_id): distinct level-8 cells per language —
    the raw (unnormalized) per-language cell unions."""
    df = _geo_pages(spark, sf_dir)
    geom = F.when(F.col("lang") == _UNION_LANGS[0], 0)
    for i, lg in enumerate(_UNION_LANGS[1:], start=1):
        geom = geom.when(F.col("lang") == lg, i)
    return (df.where(F.col("lang").isin(_UNION_LANGS))
            .select(geom.cast("long").alias("geom_id"),
                    s2f.cell_parent(F.col("cell_id"), 8).alias("cell_id"))
            .distinct())


def q_cell_union_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+U7+U2 end-to-end: normalize the English and French level-8
    cell unions, subtract (divide-and-conquer difference), denormalize
    back to level 8.  Equals the plain level-8 set difference, which the
    oracle computes independently with EXCEPT."""
    from s2_geometry_kotlin_spark.operators.cellunion import (
        difference_df, normalize_df)
    u = _lang_union8(spark, sf_dir)
    en = normalize_df(u.where(F.col("geom_id") == 1)
                      .select(F.lit(0).cast("long").alias("geom_id"),
                              "cell_id"))
    fr = normalize_df(u.where(F.col("geom_id") == 3)
                      .select(F.lit(0).cast("long").alias("geom_id"),
                              "cell_id"))
    return difference_df(en, fr, denorm_level=8) \
        .select(F.col("cell_id").alias("cell_l8"))


def q_cell_union_leaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+U9: leaf cells covered by each language's normalized union —
    normalization (sibling merges) must preserve coverage exactly."""
    from s2_geometry_kotlin_spark.operators.cellunion import (
        normalize_df, range_max_col, range_min_col)
    norm = normalize_df(_lang_union8(spark, sf_dir))
    width = (range_max_col(F.col("cell_id")) -
             range_min_col(F.col("cell_id"))) / F.lit(2) + F.lit(1)
    return (norm.withColumn("__w", width.cast("long"))
            .groupBy("geom_id")
            .agg(F.sum("__w").alias("n_leaves")))


ROUTE_SIMPLIFY_TOL_RAD = 20000.0 / 6371010.0  # 20 km tolerance

_ROUTES_SIMPLIFIED = None


def _routes_simplified():
    """B4: dense dirty routes through the tolerance-true simplifier
    (kernel/polyline_simplifier.py) — each fixture route densified to
    16 points per edge with a deterministic sub-tolerance perpendicular
    wiggle (the GPS-trace shape real route tables arrive in), then
    simplified.  The result is a constant shared by the Spark plan and
    the oracle, like _routes()."""
    global _ROUTES_SIMPLIFIED
    if _ROUTES_SIMPLIFIED is None:
        import numpy as np
        from s2_geometry_kotlin_spark.kernel.edges import interpolate
        from s2_geometry_kotlin_spark.kernel.polyline import Polyline
        out = []
        for rid, line in _routes():
            v = line.vertices
            dense = []
            for i in range(len(v) - 1):
                a = np.broadcast_to(v[i], (16, 3))
                b = np.broadcast_to(v[i + 1], (16, 3))
                pts = interpolate(a, b, np.arange(16) / 16.0)
                # perpendicular wiggle, alternating sign, 30% of tol
                nrm = np.cross(v[i], v[i + 1])
                nrm = nrm / np.linalg.norm(nrm)
                amp = 0.3 * ROUTE_SIMPLIFY_TOL_RAD
                sgn = np.where(np.arange(16) % 2 == 0, 1.0, -1.0)
                pts = pts + (sgn * amp)[:, None] * nrm
                pts /= np.linalg.norm(pts, axis=1)[:, None]
                dense.extend(pts)
            dense.append(v[-1])
            out.append((rid, Polyline(np.asarray(dense))
                        .simplify(ROUTE_SIMPLIFY_TOL_RAD)))
        _ROUTES_SIMPLIFIED = out
    return _ROUTES_SIMPLIFIED


def q_route_project_simplified(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """B4+D2: map-matching against simplified routes — the
    route-dataset prep path at scale (simplify before edge-table
    build), oracle-checked like route_project."""
    from s2_geometry_kotlin_spark.operators.routes import route_project
    return route_project(_geo_pages(spark, sf_dir), spark,
                         _routes_simplified(), ROUTE_RADIUS_RAD)


def q_pages_in_snapped_layer(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """B1: noisy layer -> snap rounding -> spatial join."""
    from s2_geometry_kotlin_spark.operators.snapping import \
        pages_in_snapped
    return pages_in_snapped(_geo_pages(spark, sf_dir), spark)


def q_pages_in_selfsplit_layer(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """B1 + splitCrossingEdges: a SELF-CROSSING bowtie layer is split
    at its materialized crossing vertices and snap-rounded
    (S2Builder.kt:489-520), then joined like any layer."""
    from s2_geometry_kotlin_spark.operators.snapping import \
        pages_in_selfsplit
    return pages_in_selfsplit(_geo_pages(spark, sf_dir), spark)


def q_mixed_boolean_counts(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Mixed-dimension S2BooleanOperation surface (points + polylines +
    polygons, kernel/boolean_mixed.py) over the fixture pair table.
    The construction is non-SQL-expressible, but its outputs over the
    fixed pair table are deterministic constants — the oracle (round 6)
    is the PINNED_RESULTS VALUES table, so the driver value-hash-checks
    this row; drift is caught by tests/test_mixed_boolean_operator.py and the
    52-case reference parity suite (tests/test_boolean_parity.py)."""
    from s2_geometry_kotlin_spark.operators.mixed_boolean import \
        q_mixed_boolean_counts as q
    return q(spark, sf_dir)


def q_cell_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Board-consolidated sessionization row (round 6: the former
    cell_sessions_batch and cell_sessions_gap rows merged so the
    registry fits the driver's 50-row cap).  Both operators stay fully
    value-checked: every 2-hour-gap session row (F.session_window, the
    declarative sessionizer — batch twin of streaming.cell_session_windows)
    carries its cell's lifetime aggregate from cell_session_state (the
    batch twin of the stateful tracker the stream==batch tests compare
    against).  The join is a per-l8-cell equi-join; the state side is
    one row per cell, broadcastable at any scale."""
    from s2_geometry_kotlin_spark import streaming as st
    from s2_geometry_kotlin_spark.streaming import cell_session_state
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sessions = st.cell_session_windows(ev)
    state = (cell_session_state(ev)
             .withColumnRenamed("n_events", "cell_events")
             .withColumnRenamed("n_users", "cell_users"))
    return sessions.join(F.broadcast(state), "cell_l8")


def _cell_sessions_oracle_sql() -> str:
    """Independent sessionization (lag/cumsum break detection — a
    different algorithm than Spark's window-merge) joined with the
    per-cell lifetime aggregate, mirroring the merged q_cell_sessions:
    a break when an event arrives >= 2 hours after the previous one in
    its cell; session_end = last event + gap."""
    from s2_geometry_kotlin_spark.functions import sqlgen
    src = ("SELECT event_id, ts, user_id, "
           "((user_id * 7919 + 12345) % 160000001 - 80000000) / 1e6 "
           "AS lat, "
           "((user_id * 104729 + 54321) % 360000001 - 180000000) / 1e6 "
           "AS lon FROM events")
    # both window orderings tie-break on event_id: with exact-duplicate
    # timestamps (the sf1 replicated-events regime) an ORDER BY ts alone
    # lets the lag-computed break flag land mid-tie-group in the
    # cumsum's independently-tie-broken order, splitting copies of one
    # instant across two sessions (found by the sf1 full board)
    return (sqlgen.cellid_from_latlng_query(src, "event_id, ts, user_id")
            + ",\nev AS (SELECT "
            + sqlgen.parent_sql("cell_id", 8) + " AS cell_l8, ts, "
            "user_id, event_id FROM henc),\n"
            "m AS (SELECT *, CASE WHEN lag(ts) OVER "
            "(PARTITION BY cell_l8 ORDER BY ts, event_id) IS NULL OR "
            "ts >= lag(ts) OVER (PARTITION BY cell_l8 ORDER BY ts, "
            "event_id) + INTERVAL 2 HOUR THEN 1 ELSE 0 END AS brk "
            "FROM ev),\n"
            "s AS (SELECT *, SUM(brk) OVER (PARTITION BY cell_l8 "
            "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid "
            "FROM m),\n"
            "sess AS (SELECT MIN(ts) AS session_start, "
            "MAX(ts) + INTERVAL 2 HOUR AS session_end, cell_l8, "
            "COUNT(*) AS n_events, "
            "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users "
            "FROM s GROUP BY cell_l8, sid),\n"
            "cellagg AS (SELECT cell_l8, COUNT(*) AS cell_events, "
            "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cell_users, "
            "MIN(ts) AS first_seen, MAX(ts) AS last_seen "
            "FROM ev GROUP BY 1)\n"
            "SELECT sess.session_start, sess.session_end, sess.cell_l8, "
            "sess.n_events, sess.n_users, cellagg.cell_events, "
            "cellagg.cell_users, cellagg.first_seen, cellagg.last_seen "
            "FROM sess JOIN cellagg USING (cell_l8)")


def q_polygon_loop_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2/M3 oracle: per-loop spherical areas of the fixture layer via
    the measures kernel; DuckDB recomputes them with the independent
    Van Oosterom-Strackee excess formula over the raw vertices."""
    from s2_geometry_kotlin_spark.operators.measures_query import (
        polygon_loop_areas)
    return polygon_loop_areas(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from s2_geometry_kotlin_spark.operators import dedup, similarity
    from s2_geometry_kotlin_spark.operators import textstats as ts
    # Board consolidation (round 4): the registry contract checks at most
    # 50 rows, so redundant diagnostics were demoted to unit/bench coverage —
    # simhash (feeds the surviving simhash_neardup_pairs oracle),
    # embed_lsh_buckets (feeds
    # embed_ann_bucketed/multiprobe), pages_synth (input identity is
    # transitively pinned by every other oracle); tile_index +
    # tile_to_cell merged into tile_roundtrip, hot_cells folded into
    # lang_cell_profile (n_hot_l12).
    # Round 6 (the round-5 contract checked exactly the FIRST 50 entries
    # and silently dropped positions 51-52): three more merges bring the
    # registry to 49 — margin under the cap — with every constituent
    # operator still value-checked: cell_token folded into cell_parents
    # (token_l12 column), media_frames + media_features joined into
    # media_pipeline, cell_sessions_batch + cell_sessions_gap joined
    # into cell_sessions.  tests/test_driver_contract.py pins the cap
    # and the zero-no-oracle invariant.
    return {
        "knn_pages": q_knn_pages,
        "knn_polygon_edges": q_knn_polygon_edges,
        "pages_near_route": q_pages_near_route,
        "route_project": q_route_project,
        "routes_cross_polygons": q_routes_cross_polygons,
        "route_crossing_edges": q_route_crossing_edges,
        "cell_union_diff": q_cell_union_diff,
        "knn_pages_farthest": q_knn_pages_farthest,
        "closest_covering_cell": q_closest_covering_cell,
        "bearing_to_paris": q_bearing_to_paris,
        "cell_union_leaves": q_cell_union_leaves,
        "polygon_loop_areas": q_polygon_loop_areas,
        "route_project_simplified": q_route_project_simplified,
        "pages_in_snapped_layer": q_pages_in_snapped_layer,
        "pages_in_selfsplit_layer": q_pages_in_selfsplit_layer,
        "mixed_boolean_counts": q_mixed_boolean_counts,
        "polyline_vector_layer": __import__(
            "s2_geometry_kotlin_spark.operators.polyline_vector",
            fromlist=["q_polyline_vector_layer"]).q_polyline_vector_layer,
        "cell_sessions": q_cell_sessions,
        "token_stats": ts.q_token_stats,
        "bpe_token_stats": ts.q_bpe_token_stats,
        "quality": ts.q_quality,
        "domain_id": ts.q_domain_id,
        "fingerprint": ts.q_fingerprint,
        "dedup_exact": dedup.q_dedup_exact,
        "ngram_jaccard_pairs": dedup.q_ngram_jaccard_pairs,
        "minhash_lsh_pairs": dedup.q_minhash_lsh_pairs,
        "dedup_components": __import__(
            "s2_geometry_kotlin_spark.operators.components",
            fromlist=["q_dedup_components"]).q_dedup_components,
        "media_pipeline": __import__(
            "s2_geometry_kotlin_spark.operators.multimodal",
            fromlist=["q_media_pipeline"]).q_media_pipeline,
        "simhash_neardup_pairs": dedup.q_simhash_neardup_pairs,
        "embed_neardup_pairs": similarity.q_embed_neardup_pairs,
        "embed_topk_brute": similarity.q_embed_topk_brute,
        "embed_ann_bucketed": similarity.q_embed_ann_bucketed,
        "embed_ann_multiprobe": similarity.q_embed_ann_multiprobe,
        "embed_ivf_topk": similarity.q_embed_ivf_topk,
        "within_100km": q_within_100km,
        "cell_center_tile": q_cell_center_tile,
        "spatial_join": q_spatial_join,
        "spatial_join_salted": q_spatial_join_salted,
        "spatial_join_range": q_spatial_join_range,
        "polygon_page_counts": q_polygon_page_counts,
        "pages_in_intersection": q_pages_in_intersection,
        "pages_in_union": q_pages_in_union,
        "pages_in_adjacent_union": q_pages_in_adjacent_union,
        "pages_in_difference": q_pages_in_difference,
        "pages_in_sym_difference": q_pages_in_sym_difference,
        "geoparse": q_geoparse,
        "cell_leaf": q_cell_leaf,
        "cell_parents": q_cell_parents,
        "tile_roundtrip": q_tile_roundtrip,
        "lang_cell_profile": q_lang_cell_profile,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL; pages cte + generated geometry SQL)
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    henc = _henc_with()
    pages = "WITH " + P.pages_cte_duckdb()
    import numpy as _np

    from s2_geometry_kotlin_spark.functions.sqlgen import xyz_sql
    from s2_geometry_kotlin_spark.kernel import cellid as _ck
    qrows = []
    for qid, lat, lon in _knn_queries():
        x, y, z = _ck.latlng_deg_to_xyz(_np.array([lat]), _np.array([lon]))
        qrows.append(f"({qid},{float(x[0])!r},{float(y[0])!r},"
                     f"{float(z[0])!r})")
    knn_sql = (
        "WITH " + P.pages_cte_duckdb() + ",\n"
        f"pgeo AS ({_GEO_SRC_DUCK}),\n"
        f"pxyz AS (SELECT url, {xyz_sql('lat', 'lon')} FROM pgeo),\n"
        f"qpts(query_id, qx, qy, qz) AS (VALUES {','.join(qrows)}),\n"
        "cand AS (SELECT q.query_id, p.url, "
        "(p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy) + "
        "(p.z-q.qz)*(p.z-q.qz) AS dist2 FROM pxyz p CROSS JOIN qpts q),\n"
        "ranked AS (SELECT query_id, url, dist2, row_number() OVER "
        "(PARTITION BY query_id ORDER BY dist2, url) AS rank FROM cand)\n"
        f"SELECT CAST(query_id AS BIGINT) AS query_id, url, "
        f"round(2.0 * 6371010.0 * asin(0.5 * sqrt(dist2)), 3) AS dist_m, "
        f"rank FROM ranked WHERE rank <= {KNN_K}")
    from s2_geometry_kotlin_spark.operators import dedup, similarity
    from s2_geometry_kotlin_spark.operators import textstats as ts
    from s2_geometry_kotlin_spark.operators.edges import \
        knn_edges_oracle_sql
    from s2_geometry_kotlin_spark.operators.routes import (
        pages_near_route_sql, route_project_sql, routes_cross_polygons_sql)

    def _pxyz_with(body: str) -> str:
        return ("WITH " + P.pages_cte_duckdb() + ",\n"
                f"pgeo AS ({_GEO_SRC_DUCK}),\n"
                f"pxyz AS (SELECT url, {xyz_sql('lat', 'lon')} FROM pgeo),\n"
                + body)

    return {
        "knn_pages": knn_sql,
        "knn_polygon_edges": _pxyz_with(
            knn_edges_oracle_sql(_layer(), KNN_EDGES_K)),
        "pages_near_route": _pxyz_with(
            pages_near_route_sql(_routes(), ROUTE_RADIUS_RAD)),
        "route_project": _pxyz_with(
            route_project_sql(_routes(), ROUTE_RADIUS_RAD)),
        "routes_cross_polygons": routes_cross_polygons_sql(
            _routes(), _layer()),
        "route_crossing_edges": __import__(
            "s2_geometry_kotlin_spark.operators.routes",
            fromlist=["crossing_edges_oracle_sql"])
            .crossing_edges_oracle_sql(_routes(), _layer()),
        "knn_pages_farthest": _knn_farthest_oracle_sql(),
        "closest_covering_cell": _closest_cell_oracle_sql(),
        "bearing_to_paris": _bearing_oracle_sql(),
        "cell_union_diff": henc + ",\n"
            "pl AS (SELECT p.lang, h.cell_id FROM henc h "
            "JOIN pages p ON p.url = h.url)\n"
            "SELECT DISTINCT "
            f"{sqlgen.parent_sql('cell_id', 8)} AS cell_l8 "
            "FROM pl WHERE lang = 'en' "
            "EXCEPT SELECT DISTINCT "
            f"{sqlgen.parent_sql('cell_id', 8)} AS cell_l8 "
            "FROM pl WHERE lang = 'fr'",
        "cell_union_leaves": henc + ",\n"
            "pl AS (SELECT p.lang, h.cell_id FROM henc h "
            "JOIN pages p ON p.url = h.url),\n"
            "l8 AS (SELECT DISTINCT lang, "
            f"{sqlgen.parent_sql('cell_id', 8)} AS c8 FROM pl "
            "WHERE lang IN ('de','en','es','fr','zh'))\n"
            "SELECT CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 "
            "WHEN 'es' THEN 2 WHEN 'fr' THEN 3 ELSE 4 END AS geom_id, "
            f"COUNT(*) * {4 ** 22} AS n_leaves FROM l8 GROUP BY 1",
        "polygon_loop_areas": __import__(
            "s2_geometry_kotlin_spark.operators.measures_query",
            fromlist=["polygon_loop_areas_sql"]).polygon_loop_areas_sql(),
        "route_project_simplified": _pxyz_with(
            route_project_sql(_routes_simplified(), ROUTE_RADIUS_RAD)),
        "pages_in_snapped_layer": _snapped_oracle_sql(),
        "pages_in_selfsplit_layer": _selfsplit_oracle_sql(),
        "mixed_boolean_counts": __import__(
            "s2_geometry_kotlin_spark.operators.mixed_boolean",
            fromlist=["mixed_boolean_oracle_sql"]).mixed_boolean_oracle_sql(),
        "polyline_vector_layer": __import__(
            "s2_geometry_kotlin_spark.operators.polyline_vector",
            fromlist=["polyline_vector_oracle_sql"]
        ).polyline_vector_oracle_sql(),
        "cell_sessions": _cell_sessions_oracle_sql(),
        "token_stats": ts.token_stats_sql(),
        "bpe_token_stats": ts.bpe_token_stats_sql(),
        "quality": ts.quality_sql(),
        "domain_id": ts.domain_id_sql(),
        "fingerprint": ts.fingerprint_sql(),
        "dedup_exact": dedup.dedup_exact_sql(),
        "ngram_jaccard_pairs": dedup.ngram_jaccard_sql(),
        "minhash_lsh_pairs": dedup.minhash_lsh_sql(),
        "dedup_components": __import__(
            "s2_geometry_kotlin_spark.operators.components",
            fromlist=["dedup_components_sql"]).dedup_components_sql(),
        "media_pipeline": __import__(
            "s2_geometry_kotlin_spark.operators.multimodal",
            fromlist=["media_pipeline_sql"]).media_pipeline_sql(),
        "simhash_neardup_pairs": dedup.simhash_neardup_sql(),
        "embed_neardup_pairs": similarity.embed_neardup_sql(),
        "embed_topk_brute": similarity.embed_topk_brute_sql(),
        "embed_ann_bucketed": similarity.embed_ann_bucketed_sql(),
        "embed_ann_multiprobe": similarity.embed_ann_multiprobe_sql(),
        "embed_ivf_topk": similarity.embed_ivf_topk_sql(),
        "within_100km": _within_oracle_sql(),
        "cell_center_tile": _cell_center_tile_oracle_sql(),
        "spatial_join": _pip_oracle_sql(
            "SELECT url, layer, polygon_id FROM pipjoin"),
        "spatial_join_salted": _pip_oracle_sql(
            "SELECT url, layer, polygon_id FROM pipjoin"),
        "spatial_join_range": _pip_oracle_sql(
            "SELECT url, layer, polygon_id FROM pipjoin"),
        "polygon_page_counts": _pip_oracle_sql(
            "SELECT layer, polygon_id, COUNT(*) AS n_pages FROM pipjoin "
            "GROUP BY 1, 2"),
        "pages_in_intersection": _bool_oracle_sql("intersection"),
        "pages_in_union": _bool_oracle_sql("union"),
        "pages_in_adjacent_union": _adjacent_union_oracle_sql(),
        "pages_in_difference": _bool_oracle_sql("difference"),
        "pages_in_sym_difference": _bool_oracle_sql("symmetric_difference"),
        "geoparse": pages + " " + _GEO_SRC_DUCK,
        "cell_leaf": henc + "\nSELECT url, cell_id FROM henc",
        "cell_parents": henc + "\nSELECT url, "
            f"{sqlgen.parent_sql('cell_id', 4)} AS cell_l4, "
            f"{sqlgen.parent_sql('cell_id', 8)} AS cell_l8, "
            f"{sqlgen.parent_sql('cell_id', 12)} AS cell_l12, "
            f"{sqlgen.parent_sql('cell_id', 16)} AS cell_l16, "
            f"{sqlgen.token_sql(sqlgen.parent_sql('cell_id', 12))} "
            "AS token_l12 FROM henc",
        "tile_roundtrip": _tile_roundtrip_oracle_sql(),
        "lang_cell_profile": henc + ",\n"
            "pl AS (SELECT p.lang, h.url, "
            f"{sqlgen.parent_sql('h.cell_id', 4)} AS cell_l4, "
            f"{sqlgen.parent_sql('h.cell_id', 12)} AS cell_l12 "
            "FROM henc h JOIN pages p ON p.url = h.url),\n"
            "prof AS (SELECT lang, cell_l4, COUNT(*) AS n_pages, "
            "COUNT(DISTINCT regexp_extract(url, 'https://([^/]+)/', 1)) "
            "AS n_hosts FROM pl GROUP BY 1, 2),\n"
            "hot AS (SELECT lang, cell_l4, COUNT(*) AS n_hot_l12 FROM ("
            "SELECT lang, cell_l4, cell_l12 FROM pl GROUP BY 1, 2, 3 "
            "HAVING COUNT(*) >= 5) g GROUP BY 1, 2)\n"
            "SELECT prof.lang, prof.cell_l4, prof.n_pages, prof.n_hosts, "
            "COALESCE(hot.n_hot_l12, 0) AS n_hot_l12 FROM prof "
            "LEFT JOIN hot ON prof.lang = hot.lang "
            "AND prof.cell_l4 = hot.cell_l4",
    }


# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geocode pages, assign cells, spatial-join against the
    polygon layer, count pages per polygon."""
    return q_polygon_page_counts(spark, "/root/testdata/sf0.001")
