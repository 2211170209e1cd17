"""Dedup cluster assignment: connected components over near-duplicate
pairs.

The last step of every web-scale dedup pipeline: MinHash-LSH emits
verified near-duplicate PAIRS; keeping one representative per duplicate
CLUSTER requires the transitive closure — connected components with
component id = min doc id, so the kept document is the cluster's
smallest id (deterministic, join-free to apply).

Implementation is min-label propagation WITH pointer jumping as a pure
DataFrame loop: each round every node takes the minimum label among
itself and its neighbors (one shuffle keyed by the receiving node),
then follows its label one hop (label <- label(label) — the
"shortcutting" step of Shiloach-Vishkin / hash-to-min, Rastogi et al.,
"Finding Connected Components in Map-Reduce in Logarithmic Rounds",
ICDE'13).  The jump makes rounds O(log diameter) instead of
O(diameter): near-duplicate clusters (near-cliques, diameter 2-3)
converge in 2-3 rounds, and even a pathological million-node chain
needs ~20.  Each round ends in ONE job: a lazy `localCheckpoint`
(truncates lineage so the plan doesn't grow) materialized by the same
full-scan `max(changed)` aggregate that tests convergence — r6
profiling attributed the dedup-family scaling loss to this loop's
per-round serial barriers (two jobs x 8-10 rounds), so the round count
and the jobs-per-round were both halved.  Measured at local[4], the
25-round budget labels descending chains of 60, 1,000 and 100,000
nodes in 8.9, 7.1 and 21.5 s — faster than a large-star/small-star
contraction (Kiveris et al., SoCC'14) on the same chains (9.0, 10.6
and 36.5 s), which was therefore dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAX_ROUNDS = 25


def connected_components(pairs: DataFrame, a: str = "doc_a",
                         b: str = "doc_b",
                         max_rounds: int = MAX_ROUNDS,
                         assume_distinct: bool = False) -> DataFrame:
    """(node, component) for every node appearing in `pairs`;
    component = min node id reachable through the pair graph.

    assume_distinct=True skips the edge-dedup exchange — correct when
    the caller guarantees `pairs` has no duplicate rows and a < b per
    row (the LSH pair pipelines emit exactly that: one row per verified
    (doc_a, doc_b) with doc_a < doc_b), so the symmetrized u/v rows are
    distinct by construction.  Duplicate edges would not change the
    fixpoint, only the per-round message volume — the flag is purely a
    shuffle-count optimization (guide §2.4: a `distinct` on data that
    is already unique is an accidental exchange)."""
    # symmetrized edge set, hash-partitioned on the per-round join key
    # once so only the (smaller) label table shuffles each round.
    # Symmetrize with ONE explode, not union(pairs, swap(pairs)): the
    # union form puts the `pairs` plan in the tree twice, and when the
    # input is an unmaterialized pipeline (the LSH candidate+verify
    # chain here) Spark computes it twice — measured 2x the whole
    # dedup_components wall time at 16 cores (r6 item 3 profiling)
    edges = (pairs.select(F.explode(F.array(
                 F.struct(F.col(a).alias("u"), F.col(b).alias("v")),
                 F.struct(F.col(b).alias("u"), F.col(a).alias("v"))))
             .alias("e"))
             .select("e.u", "e.v"))
    if not assume_distinct:
        edges = edges.distinct()
    edges = edges.repartition("u").localCheckpoint()
    comp = (edges.select(F.col("u").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node")))
    converged = False
    for _ in range(max_rounds):
        # neighbor minimum, one shuffle keyed by the receiving node
        msgs = (edges.join(comp, edges.u == comp.node)
                .groupBy(F.col("v").alias("node"))
                .agg(F.min("comp").alias("nbr_min")))
        stepped = (comp.join(msgs, "node", "left")
                   .select("node",
                           F.least("comp", F.coalesce("nbr_min", "comp"))
                           .alias("mid"),
                           (F.coalesce("nbr_min", "comp") < F.col("comp"))
                           .alias("stepped")))
        # NOT checkpointed: the pointer-jump below self-joins stepped,
        # and the STATIC plan shows the message aggregation twice (no
        # ReusedExchange) — but the adaptive runtime DOES reuse the
        # exchange, so no double compute occurs: a lazy localCheckpoint
        # here measured SLOWER at both sf0.1 (1.06 -> 1.14 s) and a
        # 2M-edge synthetic graph x3 rounds (7.1 -> 7.9 s, same-session
        # A/B) — pure persistence overhead.  Measured r8, closing the
        # r7 advice item by measurement rather than by applying it.
        # pointer jump: labels are node ids, so follow the label's own
        # label (always <= and in the same component — reachability is
        # transitive); this is what makes rounds O(log diameter)
        lbl = stepped.select(F.col("node").alias("lnode"),
                             F.col("mid").alias("lcomp"))
        nxt = (stepped.join(lbl, stepped.mid == lbl.lnode, "left")
               .select("node",
                       F.coalesce("lcomp", "mid").alias("new_comp"),
                       (F.col("stepped") |
                        (F.coalesce("lcomp", "mid") < F.col("mid")))
                       .alias("changed"))
               .localCheckpoint(eager=False))
        comp = nxt.select("node", F.col("new_comp").alias("comp"))
        # ONE job: the full-scan aggregate materializes the lazy
        # checkpoint (every partition) and returns the convergence flag
        if not nxt.agg(F.max("changed")).first()[0]:
            converged = True
            break
    if not converged:
        # silent non-convergence would split real clusters and keep
        # duplicates downstream; fail loudly instead (a graph whose
        # diameter is too large for max_rounds needs a larger budget)
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} "
            "rounds (graph diameter too large); raise max_rounds")
    return comp.select("node", "comp")


def q_dedup_components(spark: SparkSession, sf_dir: str,
                       via_reps: bool = True) -> DataFrame:
    """(doc_id, component_id) over the verified MinHash-LSH pairs —
    the cluster table a keep-one-per-cluster filter joins against.

    Default path (via_reps): representatives elected per exact
    fingerprint group run the LSH + propagation, then every group
    member inherits its representative's component.  Identical output
    to propagation over the full pair graph — exact-dup groups are
    cliques through their representative, and representatives are
    group minima so the rep-graph minimum IS the cluster minimum — but
    the propagation never materializes the O(group_size^2) intra-group
    pairs that dominate the mirror-heavy regime (r5: ~890x true-pair
    volume from 10x replication).  tests/test_components.py pins
    rep-path == full-path equality."""
    from .dedup import _minhash_pairs_over, _rep_mapping, \
        q_minhash_lsh_pairs
    if not via_reps:
        pairs = (q_minhash_lsh_pairs(spark, sf_dir, via_reps=False)
                 .select("doc_a", "doc_b"))
        return connected_components(
            pairs, assume_distinct=True).select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("component_id"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mapping = _rep_mapping(docs).cache()
    reps = (docs.join(
        mapping.where(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id"), "doc_id"))
    rep_pairs = _minhash_pairs_over(reps).select("doc_a", "doc_b")
    rep_comp = connected_components(
        rep_pairs, assume_distinct=True).select(
        F.col("node").alias("rep_id"), F.col("comp").alias("rep_comp"))
    # a doc appears in the full pair graph iff its group has >= 2
    # members (intra pairs) or its representative has a near-dup pair
    return (mapping.join(rep_comp, "rep_id", "left")
            .where((F.col("n_copies") >= 2) |
                   F.col("rep_comp").isNotNull())
            .select(F.col("doc_id"),
                    F.coalesce("rep_comp", "rep_id")
                    .alias("component_id")))


def dedup_components_sql() -> str:
    """DuckDB oracle: transitive closure by recursive CTE over the SAME
    pair set (the minhash oracle SQL), component = min reachable id —
    an independent algorithm for the same definition."""
    from .dedup import minhash_lsh_sql
    inner = minhash_lsh_sql()
    return f"""WITH RECURSIVE pairs AS (
{inner}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
)
SELECT n.u AS doc_id,
       CAST(LEAST(n.u, MIN(r.v)) AS BIGINT) AS component_id
FROM (SELECT DISTINCT u FROM edges) n
LEFT JOIN reach r ON r.u = n.u
GROUP BY 1"""
