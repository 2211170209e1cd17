"""Round-2 regression tests: Arrow cell-id encode and decode against
the numpy kernel, Column token, LSH candidate-only verification plan,
kNN escalation telemetry & terminal round, cell-union coarse-probe
guard, synthesis-hash overflow safety."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_kotlin_spark import functions as s2f
from s2_geometry_kotlin_spark.kernel import cellid as ck


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_kotlin_spark.session import get_spark
    s = get_spark("round2-tests", cpus=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# ---------------------------------------------------------------------------
# Arrow cell-id encode and decode vs the numpy kernel
# ---------------------------------------------------------------------------

# face centers + poles + antimeridian + city coordinates
_FIXTURE_POINTS = [(0.0, 0.0), (0.0, 90.0), (90.0, 0.0), (0.0, 180.0),
                   (0.0, -90.0), (-90.0, 0.0), (48.8566, 2.3522),
                   (-33.8688, 151.2093), (35.6895, 139.6917),
                   (1e-12, -1e-12)]


@pytest.mark.parametrize("pts", [
    pytest.param(_FIXTURE_POINTS, id="fixture_points"),
    pytest.param([(None, 1.0), (1.0, None), (None, None)],
                 id="null_passthrough"),
    pytest.param(_FIXTURE_POINTS + [(None, 1.0), (None, None)],
                 id="nulls_beside_points"),
])
def test_s2_cellid_matches_kernel(spark, pts):
    """Exact ids, nulls for null coordinates; one partition, so a batch
    holds both (a null once turned the batch's ids into rounded floats)."""
    df = spark.createDataFrame(pts, "lat double, lon double").coalesce(1)
    rows = df.withColumn("cid", s2f.s2_cellid("lat", "lon")).collect()
    got = {(r["lat"], r["lon"]): r["cid"] for r in rows}
    for plat, plon in pts:
        exp = None
        if plat is not None and plon is not None:
            exp = int(ck.to_signed(ck.from_latlng_deg(
                np.array([plat]), np.array([plon])))[0])
        assert got[(plat, plon)] == exp, (plat, plon)


def test_s2_cell_center_null_id_is_null(spark):
    ids = ck.to_signed(ck.from_latlng_deg(np.array([48.8566]),
                                          np.array([2.3522]))).tolist()
    df = spark.createDataFrame([(ids[0],), (None,)], "cid long")
    rows = df.select("cid", s2f.s2_cell_center("cid").alias("c")) \
        .collect()
    got = {r["cid"]: (r["c"]["lat"], r["c"]["lon"]) for r in rows}
    assert got[None] == (None, None)
    lat, lon = ck.to_latlng_deg(np.array(ids, dtype=np.int64))
    assert got[ids[0]] == (float(lat[0]), float(lon[0]))


# ---------------------------------------------------------------------------
# token as Column expression
# ---------------------------------------------------------------------------

def test_token_column_matches_kernel(spark):
    rng = np.random.default_rng(42)
    ids = ck.from_latlng_deg(rng.uniform(-90, 90, 500),
                             rng.uniform(-180, 180, 500))
    # mix of levels, including level-0 faces (low bits zero -> stripped)
    lvls = rng.integers(0, 31, 500)
    ids = ck.parent(ids, lvls)
    expected = ck.to_token(ids)
    df = spark.createDataFrame([(int(v),) for v in ck.to_signed(ids)],
                               "cid long")
    got = [r[0] for r in
           df.select(s2f.s2_token(F.col("cid")).alias("t")).collect()]
    assert got == list(expected)
    zero = spark.sql("SELECT CAST(0 AS BIGINT) AS cid") \
        .select(s2f.s2_token(F.col("cid")).alias("t")).collect()
    assert zero[0]["t"] == "X"


# ---------------------------------------------------------------------------
# LSH verification must never do a shingle-only all-pairs join
# ---------------------------------------------------------------------------

def test_lsh_plan_is_candidate_only(spark):
    from s2_geometry_kotlin_spark.operators.dedup import q_minhash_lsh_pairs
    df = q_minhash_lsh_pairs(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Join" not in line:
            continue
        if "shingle" in line:
            # any join touching shingles must also key on a doc id —
            # a shingle-only equi-join is the quadratic all-pairs plan
            assert "doc_" in line, line


# ---------------------------------------------------------------------------
# kNN: escalation telemetry + terminal whole-sphere round
# ---------------------------------------------------------------------------

def test_knn_terminal_round_covers_sphere(spark):
    from s2_geometry_kotlin_spark.operators.knn import knn_points
    # fewer pages than k: queries can never be "done" before the
    # terminal round; the emitted rows must come from the radius=pi
    # covering (the old code reused a stale hemisphere topk)
    pts = [("u0", 10.0, 10.0), ("u1", -40.0, 100.0), ("u2", 60.0, -120.0)]
    rows = []
    for url, la, lo in pts:
        x, y, z = ck.latlng_deg_to_xyz(np.array([la]), np.array([lo]))
        cid = int(ck.to_signed(ck.from_latlng_deg(
            np.array([la]), np.array([lo])))[0])
        rows.append((url, float(x[0]), float(y[0]), float(z[0]), cid))
    pages = spark.createDataFrame(
        rows, "url string, x double, y double, z double, cell_id long")
    stats = {}
    res = knn_points(pages, spark, [(0, -10.0, -170.0)], k=8,
                     n_pages_hint=3, stats=stats)
    got = res.collect()
    # all 3 pages must appear (k=8 > n), including ones in the far
    # hemisphere from the query
    assert sorted(r["url"] for r in got) == ["u0", "u1", "u2"]
    assert all(r["dist_m"] > 0 for r in got)


def test_knn_single_round_at_calibrated_radius(spark):
    import __spark_entry__ as entrymod
    from s2_geometry_kotlin_spark.operators.knn import knn_points
    pages_xyz = entrymod._geo_pages_xyz(spark,
                                        "/root/testdata/sf0.001").cache()
    n = pages_xyz.count()
    stats = {}
    res = knn_points(pages_xyz, spark, entrymod._knn_queries(),
                     entrymod.KNN_K, n_pages_hint=n, stats=stats)
    assert res is not None and res.count() > 0
    assert stats["rounds"] <= 2, stats
    pages_xyz.unpersist()


# ---------------------------------------------------------------------------
# cell-union: coarse probe must not match a finer union cell
# ---------------------------------------------------------------------------

def test_contains_cell_join_rejects_coarse_probe(spark):
    from s2_geometry_kotlin_spark.operators.cellunion import \
        contains_cell_join
    base = ck.from_latlng_deg(np.array([10.0]), np.array([20.0]))
    probe5 = int(ck.to_signed(ck.parent(base, 5))[0])
    fine10 = int(ck.to_signed(ck.parent(base, 10))[0])
    cells = spark.createDataFrame([(1, fine10)], "geom_id long, cell_id long")
    probes = spark.createDataFrame([(probe5,)], "cell_id long")
    # the level-10 union cell is a descendant of the level-5 probe:
    # the union does NOT contain the probe
    assert contains_cell_join(cells, probes).count() == 0
    # sanity: a leaf probe inside the level-10 cell does match
    leaf = int(ck.to_signed(base)[0])
    probes2 = spark.createDataFrame([(leaf,)], "cell_id long")
    assert contains_cell_join(cells, probes2).count() == 1


# ---------------------------------------------------------------------------
# synthesis hash: overflow-safe at huge doc ids in BOTH dialects
# ---------------------------------------------------------------------------

def test_pages_hash_no_overflow_duckdb():
    from s2_geometry_kotlin_spark.sources.pages import pages_sql_duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM (VALUES "
                "(4000000000, 'big doc text here', 'en'), "
                "(123, 'small doc', 'fr')) AS t(doc_id, text, lang)")
    # naive did*2654435761 would raise a BIGINT overflow for
    # doc_id*1000 = 4e12; the split form must succeed
    rows = con.execute("SELECT url FROM (" +
                       pages_sql_duckdb("documents") + ")").fetchall()
    assert len(rows) == 2


def test_pages_hash_split_form_identity():
    # the split form equals the naive product mod 2^32 for any did
    m = 2654435761
    for did in (0, 1, 999, 123456000, 3_470_000_000_999,
                2**62 // 1000 * 1000):
        naive = (did * m) % (2**32)
        split = ((did % 65536) * m +
                 ((((did // 65536) % 65536) * 31153) % 65536) * 65536) \
            % (2**32)
        assert naive == split, did
