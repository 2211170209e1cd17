"""Embedding similarity search (brute-force + sign-LSH bucketed ANN).

Brute-force cosine top-k is the correctness baseline (broadcast the small
query set, cross join, window top-k).  The scale path buckets vectors by
random-hyperplane sign-LSH so candidate generation is an equi-join on
bucket — at 10^12 rows the cross join disappears and each query probes
only its bucket (plus optionally neighboring buckets for recall).

All vector math stays in Spark SQL higher-order functions (zip_with /
aggregate over array<double>) — JVM codegen, no Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..kernel.coverer import memoized

TOP_K = 10
QUERY_MOD = 53          # query set = vec_id % QUERY_MOD == 0
N_PLANES = 8
DIM = 64

# deterministic hyperplanes, inlined identically into Spark and DuckDB
_rng = np.random.default_rng(7)
PLANES = _rng.standard_normal((N_PLANES, DIM)).round(6)


def _emb_double():
    return F.transform(F.col("embedding"), lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _load(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = _emb_double()
    return emb.select("vec_id", e.alias("v"),
                      F.sqrt(_dot(e, e)).alias("norm"))


def q_embed_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the deterministic query subset."""
    vecs = _load(spark, sf_dir)
    queries = (vecs.where(F.col("vec_id") % QUERY_MOD == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.col("norm").alias("qnorm")))
    cand = (vecs.crossJoin(F.broadcast(queries))
            .where(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", _dot(F.col("v"), F.col("qv")) /
                        (F.col("norm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (cand.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id", "rank",
                    F.round("cosine", 6).alias("cosine_r")))


def embed_topk_brute_sql() -> str:
    return f"""WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS norm
  FROM embeddings
),
queries AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM vecs
  WHERE vec_id % {QUERY_MOD} = 0
),
cand AS (
  SELECT q.query_id, x.vec_id,
         list_dot_product(x.v, q.qv) / (x.norm * q.qnorm) AS cosine
  FROM vecs x CROSS JOIN queries q
  WHERE x.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM cand
)
SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine_r
FROM ranked WHERE rank <= {TOP_K}"""


def _plane_array(i: int):
    return F.array(*[F.lit(float(v)) for v in PLANES[i]])


def q_embed_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket id per vector (the ANN partitioning key)."""
    vecs = _load(spark, sf_dir)
    bucket = F.lit(0)
    for i in range(N_PLANES):
        bit = F.when(_dot(F.col("v"), _plane_array(i)) > 0,
                     F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return vecs.select("vec_id", bucket.alias("bucket"))


def q_embed_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: cosine top-k restricted to the query's LSH bucket
    (equi-join on bucket — the 10^12-row plan shape)."""
    vecs = _load(spark, sf_dir)
    buckets = q_embed_lsh_buckets(spark, sf_dir)
    vb = vecs.join(buckets, "vec_id")
    queries = (vb.where(F.col("vec_id") % QUERY_MOD == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.col("norm").alias("qnorm"),
                       F.col("bucket")))
    cand = (vb.join(F.broadcast(queries), "bucket")
            .where(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", _dot(F.col("v"), F.col("qv")) /
                        (F.col("norm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (cand.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id", "rank",
                    F.round("cosine", 6).alias("cosine_r")))


def q_embed_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN: each query also probes every bucket at Hamming
    distance 1 (flip one hyperplane bit), the standard recall fix for
    vectors near a partition boundary — candidate generation stays an
    equi-join on bucket, now with N_PLANES+1 probe rows per query
    (constant fan-out, no cross join)."""
    vecs = _load(spark, sf_dir)
    buckets = q_embed_lsh_buckets(spark, sf_dir)
    vb = vecs.join(buckets, "vec_id")
    probes = F.array(F.col("bucket"),
                     *[F.col("bucket").bitwiseXOR(F.lit(1 << i))
                       for i in range(N_PLANES)])
    queries = (vb.where(F.col("vec_id") % QUERY_MOD == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.col("norm").alias("qnorm"),
                       F.explode(probes).alias("bucket")))
    cand = (vb.join(F.broadcast(queries), "bucket")
            .where(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", _dot(F.col("v"), F.col("qv")) /
                        (F.col("norm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (cand.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id", "rank",
                    F.round("cosine", 6).alias("cosine_r")))


def embed_ann_multiprobe_sql() -> str:
    bits = []
    for i in range(N_PLANES):
        plane = "[" + ",".join(repr(float(v)) for v in PLANES[i]) + "]"
        bits.append(f"CASE WHEN list_dot_product(v, {plane}::DOUBLE[]) > 0 "
                    f"THEN {1 << i} ELSE 0 END")
    bucket_expr = " + ".join(bits)
    flips = ",".join(["(0)"] + [f"({1 << i})" for i in range(N_PLANES)])
    return f"""WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS norm
  FROM embeddings
),
vb AS (SELECT vec_id, v, norm, {bucket_expr} AS bucket FROM vecs),
flips(f) AS (VALUES {flips}),
queries AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm,
         xor(bucket, f) AS bucket
  FROM vb CROSS JOIN flips
  WHERE vec_id % {QUERY_MOD} = 0
),
cand AS (
  SELECT q.query_id, x.vec_id,
         list_dot_product(x.v, q.qv) / (x.norm * q.qnorm) AS cosine
  FROM vb x JOIN queries q ON x.bucket = q.bucket
  WHERE x.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM cand
)
SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine_r
FROM ranked WHERE rank <= {TOP_K}"""


NEARDUP_COSINE = 0.3  # synthetic embeddings are near-orthogonal;
# 0.3 marks the top ~1% most-similar pairs (real dedup would use ~0.95)


def q_embed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: vectors sharing an LSH bucket
    with cosine >= threshold (candidate generation = equi-join on
    bucket; the verify only touches bucket-mates, never all pairs)."""
    vecs = _load(spark, sf_dir)
    buckets = q_embed_lsh_buckets(spark, sf_dir)
    vb = vecs.join(buckets, "vec_id")
    x = vb.alias("x")
    y = vb.alias("y")
    cand = (x.join(y, (F.col("x.bucket") == F.col("y.bucket")) &
                   (F.col("x.vec_id") < F.col("y.vec_id")))
            .withColumn("cosine",
                        _dot(F.col("x.v"), F.col("y.v")) /
                        (F.col("x.norm") * F.col("y.norm"))))
    return (cand.where(F.col("cosine") >= NEARDUP_COSINE)
            .select(F.col("x.vec_id").alias("vec_a"),
                    F.col("y.vec_id").alias("vec_b"),
                    F.round("cosine", 6).alias("cosine_r")))


def embed_neardup_sql() -> str:
    bits = []
    for i in range(N_PLANES):
        plane = "[" + ",".join(repr(float(v)) for v in PLANES[i]) + "]"
        bits.append(f"CASE WHEN list_dot_product(v, {plane}::DOUBLE[]) > 0 "
                    f"THEN {1 << i} ELSE 0 END")
    bucket_expr = " + ".join(bits)
    return f"""WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS norm
  FROM embeddings
),
vb AS (SELECT vec_id, v, norm, {bucket_expr} AS bucket FROM vecs),
cand AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         list_dot_product(x.v, y.v) / (x.norm * y.norm) AS cosine
  FROM vb x JOIN vb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT vec_a, vec_b, round(cosine, 6) AS cosine_r
FROM cand WHERE cosine >= {NEARDUP_COSINE}"""


def embed_ann_bucketed_sql() -> str:
    bits = []
    for i in range(N_PLANES):
        plane = "[" + ",".join(repr(float(v)) for v in PLANES[i]) + "]"
        bits.append(f"CASE WHEN list_dot_product(v, {plane}::DOUBLE[]) > 0 "
                    f"THEN {1 << i} ELSE 0 END")
    bucket_expr = " + ".join(bits)
    return f"""WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS norm
  FROM embeddings
),
vb AS (SELECT vec_id, v, norm, {bucket_expr} AS bucket FROM vecs),
queries AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm, bucket FROM vb
  WHERE vec_id % {QUERY_MOD} = 0
),
cand AS (
  SELECT q.query_id, x.vec_id,
         list_dot_product(x.v, q.qv) / (x.norm * q.qnorm) AS cosine
  FROM vb x JOIN queries q ON x.bucket = q.bucket
  WHERE x.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM cand
)
SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine_r
FROM ranked WHERE rank <= {TOP_K}"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means centroids + nprobe search
# ---------------------------------------------------------------------------

IVF_K = 16
IVF_NPROBE = 2
IVF_ITERS = 5


# The driver's oracle harness calls oracle_sql() with no parameters and
# registers its DuckDB views over this sf dir; override per-run with
# S2_TEST_SF_DIR (the repo's contract test exports it) or pass sf_dir.
IVF_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def _ivf_train_path(sf_dir: str | None = None) -> str:
    import os
    if sf_dir is None:
        sf_dir = os.environ.get("S2_TEST_SF_DIR", IVF_ORACLE_SF_DIR)
    return f"{sf_dir}/embeddings.parquet"


def _ivf_centroids(train_parquet: str) -> list[list[float]]:
    """Deterministic driver-side k-means (seeded init = the first IVF_K
    vectors by vec_id, IVF_ITERS Lloyd steps) over a deterministic
    head-4096-by-vec_id sample of the dataset being searched, read
    without Spark and memoized per path: the centroid list is a CONSTANT
    (rounded to 6dp) shared verbatim by the Spark plan and the DuckDB
    oracle — at 10^12 rows the same centroids would come from a
    driver-side sample, and assignment stays a per-row fold (no
    shuffle)."""
    def compute():
        import pyarrow.parquet as pq
        tbl = pq.read_table(train_parquet).to_pandas()
        tbl = tbl.sort_values("vec_id").head(4096)
        vecs = np.stack([np.asarray(v, dtype=np.float64)
                         for v in tbl["embedding"]])
        cents = vecs[:IVF_K].copy()
        for _ in range(IVF_ITERS):
            d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(IVF_K):
                sel = vecs[assign == c]
                if len(sel):
                    cents[c] = sel.mean(axis=0)
        return [[float(x) for x in np.round(c, 6)] for c in cents]

    return memoized(("ivf", train_parquet), compute)


def _ivf_assign_expr(cents: list[list[float]], vcol):
    """argmin-L2 centroid id as a fold (first strictly-smaller wins ->
    lowest id on ties, matching the oracle's ORDER BY d2, cid)."""
    carr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])
    init = F.struct(F.lit(1e18).alias("d2"),
                    F.lit(-1).cast("long").alias("cid"))

    def merge(acc, i):
        cv = F.element_at(carr, (i + F.lit(1)).cast("int"))
        d2 = F.aggregate(
            F.zip_with(vcol, cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda s, t: s + t)
        return F.when(d2 < acc.d2,
                      F.struct(d2.alias("d2"),
                               i.cast("long").alias("cid"))).otherwise(acc)

    return F.aggregate(F.sequence(F.lit(0), F.lit(IVF_K - 1)),
                       init, merge)


def ivf_assign_arrow(df: DataFrame, cents: list[list[float]],
                     vcol: str = "v", out: str = "cid") -> DataFrame:
    """Arrow argmin assignment kernel: one vectorized numpy matmul per
    Arrow batch instead of the interpreted Catalyst fold.  Both paths
    tie-break to the lowest cid, but the distance forms differ in FP
    rounding (|c|^2 - 2 x.c here vs the fold's sum((x-c)^2)), so a
    vector whose two nearest centroids are within ~1e-15 relative could
    in principle be assigned differently; with centroids rounded to 6dp
    such exact ties are measure-zero, and tests/test_ivf_arrow.py
    asserts equality on the fixture data.  This is the K=4096-scale
    path — the Catalyst `F.aggregate` fold in `_ivf_assign_expr` is
    O(K*D) interpreted per row and only acceptable at K=16 (measured
    5.7x at 2M vectors, bench `ivf_assign_hof`/`ivf_assign_arrow`)."""
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(cents, dtype=np.float64)          # (K, D)
    c_sq = (c * c).sum(axis=1)                       # (K,)

    @pandas_udf("long")
    def _assign(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())                   # (B, D)
        # argmin_k |x-c|^2 = argmin_k (|c|^2 - 2 x.c); |x|^2 constant in k
        d2 = c_sq[None, :] - 2.0 * (m @ c.T)
        return pd.Series(d2.argmin(axis=1).astype(np.int64))

    return df.withColumn(out, _assign(F.col(vcol)))


def ivf_topk(spark: SparkSession, sf_dir: str,
             nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF ANN with a parameterized probe count — the recall/cost knob:
    each query probes its `nprobe` nearest centroid lists (of IVF_K),
    so candidate volume and recall both scale ~linearly with nprobe on
    isotropic data.  q_embed_ivf_topk is the nprobe=2 instance whose
    determinism the driver oracle pins; this variant feeds the bench's
    measured recall curve."""
    cents = _ivf_centroids(_ivf_train_path(sf_dir))
    vecs = _load(spark, sf_dir)
    assigned = vecs.withColumn("cid",
                               _ivf_assign_expr(cents, F.col("v")).cid)
    # nprobe nearest centroids per query: build (d2, cid) structs for
    # all IVF_K centroids, array_sort (lexicographic: d2 then cid, so
    # ties break to the lower id like the chained-argmin form), slice
    pairs = F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with(F.col("v"),
                           F.array(*[F.lit(x) for x in c]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda s, t: s + t).alias("d2"),
            F.lit(i).cast("long").alias("cid"))
        for i, c in enumerate(cents)])
    probes = F.transform(
        F.slice(F.array_sort(pairs), 1, int(nprobe)),
        lambda p: p.cid)
    queries = (assigned.where(F.col("vec_id") % QUERY_MOD == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.col("norm").alias("qnorm"),
                       F.explode(probes).alias("cid")))
    cand = (assigned.join(F.broadcast(queries), "cid")
            .where(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", _dot(F.col("v"), F.col("qv")) /
                        (F.col("norm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (cand.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id", "rank",
                    F.round("cosine", 6).alias("cosine_r")))


def q_embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: vectors are bucketed by nearest coarse centroid; each
    query probes its IVF_NPROBE nearest centroid lists and takes the
    cosine top-k there — the inverted-file scale path (candidate
    generation = equi-join on centroid id)."""
    cents = _ivf_centroids(_ivf_train_path(sf_dir))
    vecs = _load(spark, sf_dir)
    assigned = vecs.withColumn("cid",
                               _ivf_assign_expr(cents, F.col("v")).cid)
    # query probe lists: nprobe nearest centroids via two chained argmins
    # (nprobe=2: best cid, then best cid excluding the first)
    carr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])

    def second_best(vcol, first):
        init = F.struct(F.lit(1e18).alias("d2"),
                        F.lit(-1).cast("long").alias("cid"))

        def merge(acc, i):
            cv = F.element_at(carr, (i + F.lit(1)).cast("int"))
            d2 = F.aggregate(
                F.zip_with(vcol, cv, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda s, t: s + t)
            return F.when((i.cast("long") != first) & (d2 < acc.d2),
                          F.struct(d2.alias("d2"),
                                   i.cast("long").alias("cid"))) \
                .otherwise(acc)

        return F.aggregate(F.sequence(F.lit(0), F.lit(IVF_K - 1)),
                           init, merge).cid

    queries = (assigned.where(F.col("vec_id") % QUERY_MOD == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.col("norm").alias("qnorm"),
                       F.explode(F.array(
                           F.col("cid"),
                           second_best(F.col("v"), F.col("cid"))))
                       .alias("cid")))
    cand = (assigned.join(F.broadcast(queries), "cid")
            .where(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", _dot(F.col("v"), F.col("qv")) /
                        (F.col("norm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (cand.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id", "rank",
                    F.round("cosine", 6).alias("cosine_r")))


def embed_ivf_topk_sql(sf_dir: str | None = None) -> str:
    cents = _ivf_centroids(_ivf_train_path(sf_dir))
    rows = ",".join(
        f"({i}, [" + ",".join(repr(x) for x in c) + "]::DOUBLE[])"
        for i, c in enumerate(cents))
    return f"""WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS norm
  FROM embeddings
),
cents(cid, cv) AS (VALUES {rows}),
dists AS (
  SELECT x.vec_id, c.cid,
         list_sum(list_transform(list_zip(x.v, c.cv),
                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2
  FROM vecs x CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM dists) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM dists WHERE vec_id % {QUERY_MOD} = 0)
  WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT q.query_id, a.vec_id,
         list_dot_product(x.v, qq.v) / (x.norm * qq.norm) AS cosine
  FROM qprobe q
  JOIN assigned a ON a.cid = q.cid
  JOIN vecs x ON x.vec_id = a.vec_id
  JOIN vecs qq ON qq.vec_id = q.query_id
  WHERE a.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM cand
)
SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine_r
FROM ranked WHERE rank <= {TOP_K}"""


# ---------------------------------------------------------------------------
# clustered synthetic embeddings: the realistic ANN recall regime
# ---------------------------------------------------------------------------

CLUSTERED_N = 20000
CLUSTERED_NCLUSTERS = 48
# noise std per dim: total noise norm ~ sigma*sqrt(DIM) = 0.5 against
# unit-norm centers — tight, well-separated clusters (the regime real
# text/image embeddings live in; sigma*sqrt(DIM) ~ 2 would drown the
# planted structure and revert to the isotropic bound)
CLUSTERED_SIGMA = 0.0625


def write_clustered_embeddings(out_dir: str, n: int = CLUSTERED_N,
                               n_clusters: int = CLUSTERED_NCLUSTERS,
                               seed: int = 11) -> str:
    """Deterministic planted-cluster embedding table, schema-identical
    to the driver's embeddings.parquet (vec_id, list<float> embedding,
    label).  Isotropic vectors bound ANN recall by fraction-probed
    (BENCH_r04 discussion); real text/image embeddings are clustered,
    where bucketed methods recover recall because a query's true
    neighbors share its planted cluster.  label = planted cluster id,
    so retrieval quality is auditable."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_clusters, DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    assign = np.arange(n) % n_clusters
    vecs = cents[assign] + CLUSTERED_SIGMA * \
        rng.standard_normal((n, DIM))
    os.makedirs(out_dir, exist_ok=True)
    path = f"{out_dir}/embeddings.parquet"
    tbl = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(
            [row.astype(np.float32) for row in vecs],
            type=pa.list_(pa.float32())),
        "label": pa.array(assign.astype(np.int32)),
    })
    pq.write_table(tbl, path)
    return out_dir


def ivf_recall_curve(spark: SparkSession, sf_dir: str,
                     sample_mod: int = QUERY_MOD) -> dict[int, float]:
    """Estimated recall@TOP_K of ivf_topk as a function of nprobe, from
    ONE pass: for each sampled query's true top-k neighbor (brute-force
    over the corpus with broadcast sample queries), find the POSITION of
    the neighbor's coarse list in the query's distance-sorted centroid
    order.  A true neighbor is returned by IVF at probe count p iff its
    list is among the first p probed (nothing outside the true top-k
    can displace it), so recall(p) is the CDF of those positions — the
    whole curve costs one brute pass + one bounded (<= IVF_K rows)
    aggregate, instead of re-running the query per candidate nprobe.

    At 100 TB the brute pass runs over a corpus SAMPLE; here the tables
    are small enough to use the full corpus, which only tightens the
    estimate."""
    cents = _ivf_centroids(_ivf_train_path(sf_dir))
    vecs = _load(spark, sf_dir)
    assigned = vecs.withColumn(
        "cid", _ivf_assign_expr(cents, F.col("v")).cid)
    queries = (vecs.where(F.col("vec_id") % sample_mod == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.col("norm").alias("qnorm")))
    # true top-k per sampled query
    cand = (vecs.crossJoin(F.broadcast(queries))
            .where(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", _dot(F.col("v"), F.col("qv")) /
                        (F.col("norm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    truth = (cand.withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= TOP_K)
             .select("query_id", "vec_id"))
    # the query's full centroid order (ties to the lower cid, matching
    # ivf_topk's array_sort probe selection)
    pairs = F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with(F.col("qv"),
                           F.array(*[F.lit(x) for x in c]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda s, t: s + t).alias("d2"),
            F.lit(i).cast("long").alias("cid"))
        for i, c in enumerate(cents)])
    q_probes = queries.select(
        "query_id",
        F.transform(F.array_sort(pairs), lambda p: p.cid).alias("probes"))
    # per true neighbor: 1-based index of its list in the probe order
    hit_at = (truth
              .join(assigned.select("vec_id", "cid"), "vec_id")
              .join(q_probes, "query_id")
              .select(F.array_position("probes", F.col("cid"))
                      .alias("probe_idx")))
    hist = {int(r["probe_idx"]): int(r["n"]) for r in
            hit_at.groupBy("probe_idx")
            .agg(F.count("*").alias("n")).collect()}
    n_queries = queries.count()
    denom = max(1, n_queries * TOP_K)
    curve: dict[int, float] = {}
    cum = 0
    for p in range(1, IVF_K + 1):
        cum += hist.get(p, 0)
        curve[p] = round(cum / denom, 4)
    return curve


def ivf_auto_nprobe(spark: SparkSession, sf_dir: str,
                    recall_target: float = 0.8,
                    sample_mod: int = QUERY_MOD) -> tuple[int, dict]:
    """Smallest nprobe whose estimated recall@TOP_K meets the target on
    the sampled query set (VERDICT r5 item 7); falls back to IVF_K
    (exhaustive probing) when no smaller setting reaches it."""
    curve = ivf_recall_curve(spark, sf_dir, sample_mod=sample_mod)
    for p in range(1, IVF_K + 1):
        if curve[p] >= recall_target:
            return p, curve
    return IVF_K, curve

