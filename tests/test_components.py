"""Connected-components dedup clustering: DataFrame loop vs known
graphs and the recursive-SQL oracle shape."""

import pytest


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_kotlin_spark.session import get_spark
    s = get_spark("components-tests", cpus=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _run(spark, pairs):
    from s2_geometry_kotlin_spark.operators.components import \
        connected_components
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    return {r["node"]: r["comp"]
            for r in connected_components(df).collect()}


def test_chain_clique_and_pair(spark):
    # chain 1-2-3-4, clique {10,11,12}, pair {20,21}
    pairs = [(1, 2), (2, 3), (3, 4),
             (10, 11), (10, 12), (11, 12),
             (20, 21)]
    got = _run(spark, pairs)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_long_chain_converges(spark):
    # worst-case diameter for min-label propagation, labels flow from
    # the low end; still bounded by MAX_ROUNDS
    n = 12
    pairs = [(i, i + 1) for i in range(n)]
    got = _run(spark, pairs)
    assert set(got.values()) == {0}


def test_long_chain_converges_in_log_rounds(spark):
    """Pointer jumping (r6 item 3): a 60-node descending-id path has
    diameter 59 — plain min-label propagation needed 59 rounds (it
    raised at the 25-round default budget before the jump step); with
    per-round label shortcutting it converges well inside the budget."""
    from s2_geometry_kotlin_spark.operators.components import \
        connected_components
    n = 60
    ids = list(range(n - 1, -1, -1))
    pairs = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {(r["node"], r["comp"])
           for r in connected_components(df).collect()}
    assert got == {(i, 0) for i in range(n)}


def test_star_handles_long_chain_and_budget_fails_loud(spark):
    """A 60-node path has diameter 59: an insufficient round budget must
    raise (loud failure, by design — silent non-convergence would split
    clusters), while the default budget labels the whole chain with its
    minimum id. The large/small-star variant this once also ran is gone;
    the check now holds connected_components to it."""
    from s2_geometry_kotlin_spark.operators.components import \
        connected_components
    n = 60
    # descending ids along the path maximize propagation rounds
    ids = list(range(n - 1, -1, -1))
    pairs = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_rounds=2)
    got = {(r["node"], r["comp"])
           for r in connected_components(df).collect()}
    assert got == {(i, 0) for i in range(n)}


@pytest.mark.parametrize("pairs,expected", [
    # ADVICE r4: {(4,5),(4,9),(3,5),(2,9)} is ONE component {2,3,4,5,9};
    # a premature fixpoint once emitted node 4 twice, with comps 2 and 3
    ([(4, 5), (4, 9), (3, 5), (2, 9)],
     [(2, 2), (3, 2), (4, 2), (5, 2), (9, 2)]),
    # a node appearing only in self-pairs still gets a self-label
    ([(1, 2), (7, 7)], [(1, 1), (2, 1), (7, 7)]),
], ids=["advice_r4", "self_pair_only"])
def test_components_edge_cases(spark, pairs, expected):
    from s2_geometry_kotlin_spark.operators.components import \
        connected_components
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = sorted((r["node"], r["comp"])
                 for r in connected_components(df).collect())
    # one row per node in `expected`: a duplicate label fails too
    assert got == expected


def test_oracle_sql_matches_on_synthetic_pairs():
    """The recursive-CTE closure agrees with the loop's semantics on a
    hand-built graph (checked in DuckDB without Spark)."""
    import duckdb
    sql = """WITH RECURSIVE pairs AS (
  SELECT * FROM (VALUES (1, 2), (2, 3), (10, 11)) t(doc_a, doc_b)
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
)
SELECT n.u AS doc_id, CAST(LEAST(n.u, MIN(r.v)) AS BIGINT) AS c
FROM (SELECT DISTINCT u FROM edges) n
LEFT JOIN reach r ON r.u = n.u GROUP BY 1 ORDER BY 1"""
    got = {r[0]: r[1] for r in duckdb.sql(sql).fetchall()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_rep_path_equals_full_path(spark):
    """Representative election (exact-dup pre-pass) must be output-
    identical to the full-corpus pipeline, for both the pair query and
    the component query (VERDICT r5 item 4).  sf0.001 documents are
    replicated 3x so exact-duplicate groups actually exist."""
    import pyspark.sql.functions as F
    from s2_geometry_kotlin_spark.operators.components import \
        q_dedup_components
    from s2_geometry_kotlin_spark.operators.dedup import \
        q_minhash_lsh_pairs

    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{src}/documents.parquet")
    repl_dir = "/tmp/s2_test_docs_repl3"
    (docs.withColumn("rep", F.explode(F.array(
         *[F.lit(i) for i in range(3)])))
     .withColumn("doc_id", F.col("doc_id") * 3 + F.col("rep"))
     .drop("rep")
     .write.mode("overwrite").parquet(f"{repl_dir}/documents.parquet"))

    full_pairs = sorted(
        tuple(r) for r in q_minhash_lsh_pairs(
            spark, repl_dir, via_reps=False).collect())
    rep_pairs = sorted(
        tuple(r) for r in q_minhash_lsh_pairs(
            spark, repl_dir, via_reps=True).collect())
    assert rep_pairs == full_pairs
    assert len(rep_pairs) > len(docs.collect())  # dup groups exist

    full_comp = sorted(tuple(r) for r in q_dedup_components(
        spark, repl_dir, via_reps=False).collect())
    rep_comp = sorted(tuple(r) for r in q_dedup_components(
        spark, repl_dir, via_reps=True).collect())
    assert rep_comp == full_comp
