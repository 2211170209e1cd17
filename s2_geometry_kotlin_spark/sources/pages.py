"""Deterministic Common-Crawl-style `pages` table.

BASELINE.json's input_hint mandates a pages table
(url string, warc_ts timestamp, html binary, text string, lang string).
The sandbox has no real crawl, so pages are synthesized *deterministically*
from the driver-provided `documents` parquet with pure integer arithmetic
that evaluates identically in Spark SQL and DuckDB SQL — the synthesis is
written ONCE as a dialect-templated SQL string, so the DuckDB oracle sees
byte-identical rows.

Geo distribution (exercises the north_rule's skew handling):
- 10% of pages have no coordinates (null-geoparse path),
- 60% cluster around 8 "hot cities" within +-0.01 deg (hot cells),
- 30% are uniform over lat in [-80, 80], lon in [-180, 180].

Coordinates are embedded in `text` as ' GEO(<lat>;<lon>)' built from
micro-degree integers; the engine geoparses them back with a regex
(byte-identical per url, per the input_hint contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..functions import s2_cellid

# (lat_micro, lon_micro) of the 8 hot cities
CITIES = [
    (48_856_600, 2_352_200),      # Paris
    (40_712_800, -74_006_000),    # New York
    (35_689_500, 139_691_700),    # Tokyo
    (37_774_900, -122_419_400),   # San Francisco
    (51_507_400, -127_800),       # London
    (-33_868_800, 151_209_300),   # Sydney
    (-23_550_500, -46_633_300),   # Sao Paulo
    (6_524_400, 3_379_200),       # Lagos
]

# NB: h = (did * odd) mod 2^32, and did is a multiple of 1000, so h mod
# 2^k inherits did's divisibility — derive sub-streams with odd divisors
# only ((h div odd) % m), never h % 2^k.
#
# The multiply is split so the intermediate never exceeds 2^63 for ANY
# did (a naive did*2654435761 wraps in Spark but errors in DuckDB once
# did >= ~3.5e9, i.e. large scale factors / replicates):
#   did*M mod 2^32 == (d0*M + ((d1*M_lo) mod 2^16) * 2^16) mod 2^32
# with d0 = did mod 2^16, d1 = did div 2^16, M_lo = M mod 2^16 = 31153.
# Algebraically identical to the naive form for all did, so synthesized
# rows are unchanged at small scale.
_H_EXPR = ("(((did % 65536) * 2654435761 + "
           "((((did {IDIV} 65536) % 65536) * 31153) % 65536) * 65536) "
           "% 4294967296)")
_CITY_SEL = "(h {IDIV} 13) % 8"
_CITY_LAT_CASE = f"CASE {_CITY_SEL} " + " ".join(
    f"WHEN {i} THEN {lat}" for i, (lat, _) in enumerate(CITIES)) + " END"
_CITY_LON_CASE = f"CASE {_CITY_SEL} " + " ".join(
    f"WHEN {i} THEN {lon}" for i, (_, lon) in enumerate(CITIES)) + " END"


def _num_str(col: str) -> str:
    """micro-degree BIGINT -> fixed 6-decimal string, identical across
    dialects (placeholders: {STR} type name, {IDIV} integer division)."""
    return (f"(CASE WHEN {col} < 0 THEN '-' ELSE '' END || "
            f"CAST(abs({col}) {{IDIV}} 1000000 AS {{STR}}) || '.' || "
            f"lpad(CAST(abs({col}) % 1000000 AS {{STR}}), 6, '0'))")


_TEMPLATE = """
SELECT
  'https://host' || CAST(h % 97 AS {STR}) || '.example/p' ||
      CAST(did AS {STR}) AS url,
  {TS} AS warc_ts,
  {HTML} AS html,
  CASE WHEN has_geo
       THEN doc_text || ' GEO(' || lat_str || ';' || lon_str || ')'
       ELSE doc_text END AS text,
  lang
FROM (
  SELECT did, doc_text, lang, h, has_geo,
         """ + _num_str("lat_micro") + """ AS lat_str,
         """ + _num_str("lon_micro") + """ AS lon_str
  FROM (
    SELECT did, doc_text, lang, h, has_geo,
      CASE WHEN is_city
           THEN ({CITY_LAT}) + ((h {IDIV} 101) % 20001) - 10000
           ELSE ((did * 7919 + 12345) % 160000001) - 80000000 END AS lat_micro,
      CASE WHEN is_city
           THEN ({CITY_LON}) + ((h {IDIV} 1051) % 20001) - 10000
           ELSE ((did * 104729 + 54321) % 360000001) - 180000000
           END AS lon_micro
    FROM (
      SELECT did, doc_text, lang,
             {H} AS h,
             (({H}) {IDIV} 3) % 100 >= 10
               AS has_geo,
             (({H}) {IDIV} 3) % 100 >= 10 AND
             (({H}) {IDIV} 3) % 100 < 70
               AS is_city
      FROM (
        SELECT doc_id * 1000 + {REP} AS did, text AS doc_text, lang
        FROM {DOCS}{REPJOIN}
      ) base
    ) hashed
  ) located
) strs
"""

# the coordinate regex: the DuckDB oracles geoparse `text` with it, and
# geoparse() below matches it on the synthesizer's texts
GEO_REGEX = r"GEO\((-?\d+\.\d+);(-?\d+\.\d+)\)"


def pages_sql_spark(docs_rel: str = "documents", replicate: int = 1) -> str:
    rep = "0" if replicate <= 1 else "rep"
    repjoin = ("" if replicate <= 1 else
               f" CROSS JOIN (SELECT explode(sequence(0, {replicate - 1})) "
               f"AS rep) reps")
    return _TEMPLATE.format(
        STR="STRING", IDIV="div",
        H=_H_EXPR.format(IDIV="div"),
        TS="timestampadd(SECOND, CAST(did % 86400000 AS INT), "
           "TIMESTAMP '2024-01-01 00:00:00')",
        HTML="encode('https://host' || CAST(h % 97 AS STRING) || "
             "'.example/p' || CAST(did AS STRING), 'UTF-8')",
        CITY_LAT=_CITY_LAT_CASE.format(IDIV="div"),
        CITY_LON=_CITY_LON_CASE.format(IDIV="div"),
        REP=rep, REPJOIN=repjoin, DOCS=docs_rel,
    )


def pages_sql_duckdb(docs_rel: str = "documents", replicate: int = 1) -> str:
    rep = "0" if replicate <= 1 else "rep"
    repjoin = ("" if replicate <= 1 else
               f" CROSS JOIN (SELECT unnest(range({replicate})) AS rep) reps")
    return _TEMPLATE.format(
        STR="VARCHAR", IDIV="//",
        H=_H_EXPR.format(IDIV="//"),
        TS="TIMESTAMP '2024-01-01 00:00:00' + "
           "(did % 86400000) * INTERVAL 1 SECOND",
        HTML="encode('https://host' || CAST(h % 97 AS VARCHAR) || "
             "'.example/p' || CAST(did AS VARCHAR))",
        CITY_LAT=_CITY_LAT_CASE.format(IDIV="//"),
        CITY_LON=_CITY_LON_CASE.format(IDIV="//"),
        REP=rep, REPJOIN=repjoin, DOCS=docs_rel,
    )


def pages_cte_duckdb(replicate: int = 1) -> str:
    """`pages AS (...)` cte body for oracle queries (documents view is
    pre-registered by the driver)."""
    return f"pages AS ({pages_sql_duckdb('documents', replicate)})"


def load_pages(spark: SparkSession, sf_dir: str,
               replicate: int = 1) -> DataFrame:
    """The engine's input table: (url, warc_ts, html, text, lang).

    The documents parquet is a single file, so we repartition BEFORE the
    synthesis/replication fan-out — otherwise the entire downstream
    pipeline (regex geoparse, cell UDF, joins) runs in one task.  At real
    scale the crawl is thousands of files and this exchange disappears.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = docs.repartition(spark.sparkContext.defaultParallelism * 4)
    docs.createOrReplaceTempView("__s2_documents")
    return spark.sql(pages_sql_spark("__s2_documents", replicate))


def geoparse(df: DataFrame) -> DataFrame:
    """Extract (lat, lon) doubles from `text`; null when no coordinates.

    Pure JVM-side string ops + cast (substring_index is ~10x cheaper than
    java regex and the hot path runs over every page).  Semantics match
    the GEO_REGEX extraction for the single-'GEO(' texts the synthesizer
    emits; malformed payloads cast to null.
    """
    has = F.instr("text", "GEO(") > 0
    payload = F.substring_index(
        F.substring_index("text", "GEO(", -1), ")", 1)
    lat = F.substring_index(payload, ";", 1).cast("double")
    lon = F.substring_index(payload, ";", -1).cast("double")
    return df.withColumn("lat", F.when(has, lat)) \
             .withColumn("lon", F.when(has, lon))


# `s2_cellid` as a separate UDF object marked nondeterministic
# (asNondeterministic mutates the object it is called on, so the shared
# `s2_cellid` stays deterministic for every other caller).
_s2_cellid_once = pandas_udf(s2_cellid.func, LongType()).asNondeterministic()


def geocode(df: DataFrame) -> DataFrame:
    """Geocoded pages: `geoparse`, then the leaf cell id (the Arrow
    `s2_cellid` encode), keeping only pages that got one.

    The filter reads the UDF's output.  A `lat IS NOT NULL` filter would
    be pushed through the synthesizer's projections with `text`
    substituted, and the inlined expression tree then outgrows
    whole-stage codegen's 64 KB method limit.  The encode is marked
    nondeterministic: the optimizer does not push a filter through a
    nondeterministic projection, so the plan runs the encode once (one
    `ArrowEvalPython`) and the filter reads its column.  A deterministic
    encode gets the filter pushed below the projection as
    `isnotnull(s2_cellid(lat, lon))`, and the plan runs it twice.
    """
    return (geoparse(df)
            .withColumn("cell_id", _s2_cellid_once("lat", "lon"))
            .where(F.col("cell_id").isNotNull()))
