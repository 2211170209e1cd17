"""Deduplication operators for the training-data pipeline.

Exact dedup (hash groupBy), n-gram Jaccard pair detection, and
MinHash+LSH (shingle -> per-band min hash -> bucket join -> verified
Jaccard).  All JVM-side Spark SQL; md5 is the cross-engine hash (Spark
and DuckDB produce identical digests).

Scale notes (100 TB): exact dedup is one hash aggregate (map-side
partials).  The shingle pair join only materializes (shingle, doc) pairs
and self-joins per shingle — the classic quadratic blowup is bounded by
per-shingle fan-out, and MinHash-LSH is the scale path that replaces the
full pair join with band-bucket joins (constant work per doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SHINGLE_WORDS = 3
JACCARD_THRESHOLD = 0.5
N_BANDS = 8

_W = "string_split_regex(trim(text), ' +')"


def _shingles_spark():
    """Word 3-gram set as zip_with over three shifted slices.

    Equivalent to (and byte-identical with, including array order —
    pinned by tests/test_r08_optimizations.py) the older
    transform-over-indices form `transform(sequence(1, m),
    i -> concat_ws(' ', slice(w, i, 3)))`, but ~4x faster: a
    subexpression inside an HOF lambda is re-evaluated PER ELEMENT, so
    the index form re-ran split() ~53x per document (once per shingle);
    here the three slices are HOF *arguments*, evaluated once per row,
    and the lambda only concatenates.  Short-text edge cases match
    because slice truncates at the array end, zip_with pads the shorter
    array with nulls, and concat_ws skips nulls."""
    w = F.split(F.trim(F.col("text")), " +")
    m = F.greatest(F.size(w) - F.lit(SHINGLE_WORDS - 1), F.lit(1))
    acc = F.slice(w, 1, m)
    for k in range(1, SHINGLE_WORDS):
        acc = F.zip_with(acc, F.slice(w, k + 1, m),
                         lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(acc)


_SHINGLES_SQL = (f"list_distinct(list_transform("
                 f"range(1, greatest(len({_W}) - {SHINGLE_WORDS - 1}, 1)"
                 f" + 1), i -> array_to_string("
                 f"list_slice({_W}, i, i + {SHINGLE_WORDS - 1}), ' ')))")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one keeper per distinct text (min doc_id)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (docs.groupBy(F.md5("text").alias("text_md5"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_copies")))


def dedup_exact_sql() -> str:
    return ("SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id, "
            "count(*) AS n_copies FROM documents GROUP BY 1")


def _shingle_rows_of(docs: DataFrame) -> DataFrame:
    return (docs.select("doc_id",
                        F.explode(_shingles_spark()).alias("shingle")))


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _shingle_rows_of(docs)


def _rep_mapping(docs: DataFrame) -> DataFrame:
    """(doc_id, rep_id, n_copies): exact-fingerprint groups with the
    min doc id elected representative.  One hash aggregate + one
    broadcast-friendly equi-join — the cheap pre-pass that makes the
    heavy-duplication (mirror-page) regime scale: shingling, banding
    and Jaccard verification then run over representatives only."""
    with_md5 = docs.select("doc_id", F.md5("text").alias("text_md5"))
    groups = with_md5.groupBy("text_md5").agg(
        F.min("doc_id").alias("rep_id"),
        F.count("*").alias("n_copies"))
    return with_md5.join(groups, "text_md5").select(
        "doc_id", "rep_id", "n_copies")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with word-3-gram Jaccard >= 0.5 (a < b)."""
    sh = _shingle_rows(spark, sf_dir).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (a.join(b, (F.col("a.shingle") == F.col("b.shingle")) &
                     (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count("*").alias("n_shared")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("nb"))
    jac = (shared.join(sa, "doc_a").join(sb, "doc_b")
           .withColumn("jaccard", F.round(
               F.col("n_shared") /
               (F.col("na") + F.col("nb") - F.col("n_shared")), 6)))
    return (jac.where(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", "jaccard"))


def ngram_jaccard_sql() -> str:
    return f"""WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE), 6)
         AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE), 6)
      >= {JACCARD_THRESHOLD}"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str,
                        verify: bool = True,
                        via_reps: bool = True) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with verified Jaccard.

    Default path (via_reps): exact-fingerprint groups elect a min-id
    representative first (`_rep_mapping`), the LSH pipeline runs over
    REPRESENTATIVES ONLY, and the verified rep pairs are re-expanded to
    the full pair set (intra-group pairs at Jaccard 1.0 + each rep pair
    fanned out across both groups).  Output is IDENTICAL to the
    full-corpus pipeline — exact duplicates share every shingle, hence
    every band minimum, hence always pair at Jaccard 1.0 — but the
    shingle/band/verify cost scales with DISTINCT texts, which is what
    survives at 100 TB where mirror pages dominate (the r5 sf1 leg
    measured ~890x true-pair volume from 10x replication).
    tests/test_components.py pins rep-path == full-path equality.

    verify=False is the bench stage split (candidate generation only,
    full corpus, no representative election)."""
    if verify and via_reps:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        mapping = _rep_mapping(docs).cache()
        reps = (docs.join(
            mapping.where(F.col("doc_id") == F.col("rep_id"))
            .select("doc_id"), "doc_id"))
        rep_pairs = _minhash_pairs_over(reps)
        # intra-group pairs: exact duplicates, Jaccard exactly 1.0
        m1 = mapping.select("rep_id", F.col("doc_id").alias("doc_a"))
        m2 = mapping.select("rep_id", F.col("doc_id").alias("doc_b"))
        intra = (m1.join(m2, "rep_id")
                 .where(F.col("doc_a") < F.col("doc_b"))
                 .select("doc_a", "doc_b",
                         F.lit(1.0).alias("jaccard")))
        # cross-group pairs: each verified rep pair fans out across the
        # two groups (members share their rep's shingle set verbatim)
        ma = mapping.select(F.col("rep_id").alias("rep_a"),
                            F.col("doc_id").alias("da"))
        mb = mapping.select(F.col("rep_id").alias("rep_b"),
                            F.col("doc_id").alias("db"))
        cross = (rep_pairs
                 .select(F.col("doc_a").alias("rep_a"),
                         F.col("doc_b").alias("rep_b"), "jaccard")
                 .join(ma, "rep_a").join(mb, "rep_b")
                 .select(F.least("da", "db").alias("doc_a"),
                         F.greatest("da", "db").alias("doc_b"),
                         "jaccard"))
        return intra.unionByName(cross)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _minhash_pairs_over(docs, verify=verify)


def _minhash_pairs_over(docs: DataFrame,
                        verify: bool = True) -> DataFrame:
    """The core pipeline over an arbitrary documents frame: per-band min
    hash over salted shingle md5s; pairs sharing any band bucket, with
    verified Jaccard.

    Verification is CANDIDATE-ONLY: each candidate pair is joined by
    doc id to the two documents' shingle-hash arrays (one row per doc,
    xxhash64 of each shingle), and |A n B| is the size of the arrays'
    intersection.  The join input is one row per candidate pair and one
    per document — never the full sh x sh all-pairs join the LSH
    exists to avoid.  tests/test_plan_shapes.py asserts the physical
    plan has no shingle-only equi-join."""
    sh = _shingle_rows_of(docs).cache()
    # all band minima in ONE aggregation keyed doc_id: the per-band
    # salted md5s are computed map-side as N_BANDS columns and reduced
    # by partial aggregation, so the shuffle moves ~one row per doc
    # instead of N_BANDS x shingle rows (the former band-replicate
    # join) — same (doc, band) -> min md5(shingle#band) definition,
    # same oracle
    # cached: `banded` below self-joins, and a self-join of an
    # unmaterialized plan computes it once PER SIDE (one row per doc x
    # N_BANDS digests — spill-safe at any corpus size)
    per_doc = sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat_ws("#", "shingle", F.lit(str(b)))))
        .alias(f"m{b}") for b in range(N_BANDS)]).cache()
    banded = (per_doc.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).cast("int").alias("band"),
                     F.col(f"m{b}").alias("minhash"))
            for b in range(N_BANDS)])).alias("s"))
        .select("doc_id", F.col("s.band").alias("band"),
                F.col("s.minhash").alias("minhash")))
    x = banded.alias("x")
    y = banded.alias("y")
    cand = (x.join(y, (F.col("x.band") == F.col("y.band")) &
                   (F.col("x.minhash") == F.col("y.minhash")) &
                   (F.col("x.doc_id") < F.col("y.doc_id")))
            .select(F.col("x.doc_id").alias("doc_a"),
                    F.col("y.doc_id").alias("doc_b"))
            .distinct())
    if not verify:
        # bench stage split: candidate generation only (band build +
        # bucket equi-join), isolating the LSH stage from the exact
        # Jaccard verify stage
        return cand
    # exact Jaccard over candidate pairs only, computed per PAIR as
    # |A n B| = size(array_intersect(hashes(A), hashes(B))) over
    # per-doc shingle-set rows.  The pre-r8 form fanned each candidate
    # pair out to the a-side shingle ROWS and equi-joined the b-side
    # rows — O(candidates x shingles/doc) join input, which on the
    # dense-duplication scaling corpus (8.2M candidates x 52 shingles)
    # meant a 500M-row join: measured 85 s -> 20 s at 16 cores with
    # bit-identical output (shingle arrays are distinct per doc, so the
    # intersect size equals the old matched-row count).  Still
    # candidate-only — no shingle-keyed join anywhere, so the hot-
    # shingle quadratic blowup the LSH exists to avoid cannot return;
    # the set rows shuffle O(docs x doc_size) instead of
    # O(candidates x doc_size).  Join strategy is left to the planner:
    # the set table broadcasts when small, shuffles at scale.
    #
    # The intersect runs over xxhash64(shingle), not the shingle
    # strings (guide §2.3/§8: shuffle a lightweight proxy, not the
    # payload): the two joins attach both arrays to every candidate
    # row, so array bytes dominate the verify — 8 B/element vs ~30 B
    # strings cut the attached volume ~4x and the intersect compares
    # longs instead of hashing strings.  Measured 19.9 -> 4.8 s at 16
    # cores on the 8.2M-candidate corpus, output row-identical
    # (exceptAll symdiff 0 both directions).  |hashes(A) n hashes(B)|
    # == |A n B| unless two DISTINCT shingles in one pair's union
    # collide in 64 bits (~100^2/2^65 ~= 3e-16 per pair, deterministic
    # across runs/engines when it cannot occur in the data); pinned
    # against the string form by
    # tests/test_r08_optimizations.py::
    # test_minhash_verify_intersect_equals_join_form and the oracle
    # boards.
    sets = sh.groupBy("doc_id").agg(
        F.collect_list(F.xxhash64("shingle")).alias("ss"),
        F.count("*").alias("n_sh"))
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("ss").alias("ss_a"), F.col("n_sh").alias("na"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("ss").alias("ss_b"), F.col("n_sh").alias("nb"))
    jac = (cand.join(sa, "doc_a").join(sb, "doc_b")
           .withColumn("n_shared",
                       F.size(F.array_intersect("ss_a", "ss_b"))
                       .cast("long"))
           .withColumn("jaccard", F.round(
               F.col("n_shared") /
               (F.col("na") + F.col("nb") - F.col("n_shared")), 6)))
    return (jac.where(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", "jaccard"))


SIMHASH_BITS = 32
SIMHASH_BANDS = 4          # 4 bands of 8 bits
SIMHASH_MAX_HAMMING = 3    # pigeonhole: <=3 flips leave some band intact

# dialect-neutral: first 8 hex chars of md5(word) as a 32-bit int
# (instr + substr evaluate identically in Spark SQL and DuckDB)
_H32 = "(" + " + ".join(
    f"CAST(instr('0123456789abcdef', substr(md5(word), {k + 1}, 1)) - 1"
    f" AS BIGINT) * {16 ** (7 - k)}" for k in range(8)) + ")"


def _simhash_sql(idiv: str) -> str:
    """cte body over `words(doc_id, word)` -> (doc_id, simhash)."""
    bit_sums = ", ".join(
        f"sum(2 * ((h {idiv} {1 << i}) % 2) - 1) AS s{i}"
        for i in range(SIMHASH_BITS))
    bits = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS))
    return (f"SELECT doc_id, {bits} AS simhash FROM ("
            f"SELECT doc_id, {bit_sums} FROM ("
            f"SELECT doc_id, {_H32} AS h FROM words) hh GROUP BY doc_id"
            f") sums")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint: per-bit majority vote over the
    32-bit md5-derived hashes of the document's words."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " +"))
        .alias("word"))
    words.createOrReplaceTempView("words")
    return spark.sql(_simhash_sql("div"))


def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded bucket join (4 x 8-bit bands) then
    exact Hamming verify <= 3.  By pigeonhole the band join finds EVERY
    pair within the Hamming threshold — candidate generation is an
    equi-join, never all-pairs."""
    sh = q_simhash(spark, sf_dir)
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     ((F.col("simhash") / F.lit(1 << (8 * b)))
                      .cast("long") % 256).alias("key"))
            for b in range(SIMHASH_BANDS)])).alias("bk"))
    banded = banded.select("doc_id", "simhash",
                           F.col("bk.band").alias("band"),
                           F.col("bk.key").alias("key"))
    x = banded.alias("x")
    y = banded.alias("y")
    cand = (x.join(y, (F.col("x.band") == F.col("y.band")) &
                   (F.col("x.key") == F.col("y.key")) &
                   (F.col("x.doc_id") < F.col("y.doc_id")))
            .select(F.col("x.doc_id").alias("doc_a"),
                    F.col("y.doc_id").alias("doc_b"),
                    F.col("x.simhash").alias("ha"),
                    F.col("y.simhash").alias("hb"))
            .distinct())
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (cand.withColumn("hamming", hamming.cast("long"))
            .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
            .select("doc_a", "doc_b", "hamming"))


def simhash_neardup_sql() -> str:
    bands = ",".join(f"({b})" for b in range(SIMHASH_BANDS))
    return (f"WITH words AS (SELECT doc_id, "
            f"unnest(string_split_regex(trim(text), ' +')) AS word "
            f"FROM documents),\n"
            f"sh AS ({_simhash_sql('//')}),\n"
            f"bands(b) AS (VALUES {bands}),\n"
            f"banded AS (SELECT doc_id, simhash, b AS band, "
            f"(simhash // (1 << (8 * b))) % 256 AS key "
            f"FROM sh CROSS JOIN bands),\n"
            f"cand AS (SELECT DISTINCT x.doc_id AS doc_a, "
            f"y.doc_id AS doc_b, x.simhash AS ha, y.simhash AS hb "
            f"FROM banded x JOIN banded y ON x.band = y.band "
            f"AND x.key = y.key AND x.doc_id < y.doc_id)\n"
            f"SELECT doc_a, doc_b, "
            f"CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming "
            f"FROM cand WHERE bit_count(xor(ha, hb)) "
            f"<= {SIMHASH_MAX_HAMMING}")


def minhash_lsh_sql() -> str:
    return f"""WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
banded AS (
  SELECT doc_id, band,
         min(md5(shingle || '#' || CAST(band AS VARCHAR))) AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range({N_BANDS})) AS band)
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.minhash = y.minhash
   AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE), 6)
         AS jaccard
FROM cand c
JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE round(n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE), 6)
      >= {JACCARD_THRESHOLD}"""
