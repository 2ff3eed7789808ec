"""Duplicate-cluster assignment (pipeline/clusters.py): transitive
closure over pair graphs, convergence behavior, and quality-aware
representative picking vs the min-id baseline.
"""

import pytest
from pyspark.sql import functions as F

from openmldb_spark.pipeline.clusters import dedup_clusters, pick_representatives
from openmldb_spark.pipeline.dedup import overlap_jaccard_pairs


def _clusters(df):
    return {r["id"]: r["cluster_id"] for r in df.collect()}


def test_chain_star_and_separate_components(spark):
    # chain 1-2-3-4 (diameter 3), star 10-{11,12,13}, pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "a long, b long",
    )
    got = _clusters(dedup_clusters(pairs))
    assert {got[i] for i in (1, 2, 3, 4)} == {1}
    assert {got[i] for i in (10, 11, 12, 13)} == {10}
    assert {got[i] for i in (20, 21)} == {20}


def test_self_and_duplicate_pairs_are_harmless(spark):
    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 1), (1, 2)], "a long, b long"
    )
    got = _clusters(dedup_clusters(pairs))
    # the self-loop id never pairs with anything else: no row (dropped edge)
    assert got == {1: 1, 2: 1}


def test_min_label_matches_pair_based_removal_on_real_pairs(spark):
    """The component-min label equals what the pair-based drop keeps: the
    set of ids that are never the larger side of any (transitive) pair."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = overlap_jaccard_pairs(docs, "doc_id", "text").select(
        F.col("a").cast("long"), F.col("b").cast("long")
    )
    if pairs.isEmpty():
        pytest.skip("no near-dup pairs at this sf")
    labels = dedup_clusters(pairs)
    # every cluster_id is a member of its own cluster and is its min
    bad = (
        labels.groupBy("cluster_id")
        .agg(F.min("id").alias("mn"))
        .where(F.col("cluster_id") != F.col("mn"))
    )
    assert bad.isEmpty()


def test_pick_representatives_by_score_and_default(spark):
    docs = spark.createDataFrame(
        [(1, "a", 0.2), (2, "b", 0.9), (3, "c", 0.9), (4, "d", 0.5), (9, "solo", 0.1)],
        "doc_id long, text string, quality double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    clusters = dedup_clusters(pairs)
    # by score: 2 and 3 tie at 0.9 -> min id 2 wins; solo docs 4, 9 survive
    by_score = pick_representatives(docs, clusters, "doc_id", score_col="quality")
    assert {r["doc_id"] for r in by_score.collect()} == {2, 4, 9}
    # default: min id of the component
    by_id = pick_representatives(docs, clusters, "doc_id")
    assert {r["doc_id"] for r in by_id.collect()} == {1, 4, 9}


def test_nonconvergence_raises(spark):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], "a long, b long")
    with pytest.raises(RuntimeError, match="convergence"):
        dedup_clusters(pairs, max_iters=1)


def test_null_score_member_never_wins(spark):
    """ADVICE r10: a null score made the min_by struct's first field null,
    which compares smallest -- a scoreless doc silently won the cluster.
    Null scores must LOSE to any scored member (and an all-null cluster
    still yields a deterministic min-id representative)."""
    docs = spark.createDataFrame(
        [(1, "a", None), (2, "b", 0.1), (3, "c", None), (7, "d", None), (8, "e", None)],
        "doc_id long, text string, quality double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a long, b long")
    clusters = dedup_clusters(pairs)
    got = {r["doc_id"] for r in
           pick_representatives(docs, clusters, "doc_id", score_col="quality").collect()}
    assert got == {2, 7}, got  # scored doc 2 beats nulls; all-null -> min id 7


def test_docs_with_existing_cluster_id_column_round_trip(spark):
    """Internal join columns are __dc_-prefixed: a docs table that already
    carries cluster_id must not collide and must keep its own values."""
    docs = spark.createDataFrame(
        [(1, 99, 0.2), (2, 98, 0.9), (9, 97, 0.1)],
        "doc_id long, cluster_id long, quality double",
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    clusters = dedup_clusters(pairs)
    got = pick_representatives(docs, clusters, "doc_id", score_col="quality")
    rows = {r["doc_id"]: r["cluster_id"] for r in got.collect()}
    assert rows == {2: 98, 9: 97}, rows


def test_representatives_join_broadcasts_clusters(spark):
    """Plan pin (VERDICT r10 #7): the clusters side is pairs-sized --
    the join must be a BroadcastHashJoin with NO Exchange below it on the
    docs side, so a 100 TB docs table never shuffles for the join."""
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (9, 0.1)], "doc_id long, quality double"
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    clusters = dedup_clusters(pairs)
    out = pick_representatives(docs, clusters, "doc_id", score_col="quality")
    out.collect()  # finalize the adaptive plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # the ONLY shuffle exchange allowed is the post-join representative
    # aggregate (keyed on the internal __dc_cid) -- never the docs side
    import re

    for ex in re.findall(r"Exchange hashpartitioning\((\w+)", plan):
        assert ex.startswith("__dc_cid"), plan


def test_convergence_round_count_and_output_schema(spark):
    """r14 internals pin (min-propagation + pointer doubling): a
    diameter-4 chain needs exactly 2 label-changing rounds plus 1
    confirming round (labels travel ~2^r hops by round r), and the
    converged output exposes ONLY (id, cluster_id) -- the internal __old
    carry column must not leak."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a long, b long"
    )
    got = dedup_clusters(pairs, max_iters=3)
    assert got.columns == ["id", "cluster_id"]
    assert _clusters(got) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}
    # one round short of the confirming pass: must raise, not return a
    # half-propagated labeling
    with pytest.raises(RuntimeError, match="convergence"):
        dedup_clusters(pairs, max_iters=2)


def test_log_diameter_rounds_on_diameter_8_chain(spark):
    """VERDICT r13 item 4 acceptance pin: a diameter-8 chain (ids 1..9)
    converges within 4 driver-blocking rounds (O(log d) via pointer
    doubling) -- plain one-hop propagation would need 9."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "a long, b long"
    )
    got = _clusters(dedup_clusters(pairs, max_iters=4))
    assert got == {i: 1 for i in range(1, 10)}
