"""Contract tests for operator edge cases flagged in round-1 review:
as-of atomicity under NULL value columns, salted-join how restriction,
self-match exclusion flags, and IVF centroid reuse."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_asof_join_atomic_match_with_null_value_col(spark):
    """A reference row holding NULL in one value column must NOT stitch
    that column from an older reference row — all values come from the
    single winning right row."""
    from mapreduce_4_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100)], ["key", "t"])
    right = spark.createDataFrame(
        [(1, 10, "old_a", "old_b"), (1, 50, "new_a", None)],
        ["key", "rt", "a", "b"],
    )
    out = asof_join(
        left, right, on="key", left_time="t", right_time="rt",
        value_cols=["a", "b"], right_tiebreak="rt",
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row["a"] == "new_a"
    assert row["b"] is None, "b must come from the winning row, not be stitched"


def test_asof_join_no_preceding_row_gives_nulls(spark):
    from mapreduce_4_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5)], ["key", "t"])
    right = spark.createDataFrame([(1, 50, "late")], ["key", "rt", "a"])
    row = asof_join(
        left, right, on="key", left_time="t", right_time="rt",
        value_cols=["a"],
    ).collect()[0]
    assert row["a"] is None


def test_salted_join_rejects_right_and_full_outer(spark):
    from mapreduce_4_spark.operators.partitioning import salted_join

    l = spark.createDataFrame([(1, "x")], ["k", "lv"])
    r = spark.createDataFrame([(1, "y")], ["k", "rv"])
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(l, r, "k", how=how)


def test_salted_left_join_keeps_unmatched_left_once(spark):
    from mapreduce_4_spark.operators.partitioning import salted_join

    l = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "lv"])
    r = spark.createDataFrame([(1, "m")], ["k", "rv"])
    rows = sorted(
        (r["k"], r["lv"], r["rv"])
        for r in salted_join(l, r, "k", n_salts=4, how="left").collect()
    )
    assert rows == [(1, "x", "m"), (2, "y", None)]


def test_exclude_self_flag_controls_id_collision(spark):
    """With exclude_self=False, a corpus row sharing the query's id is a
    legitimate neighbor (different id domains)."""
    from mapreduce_4_spark.operators.similarity import brute_force_topk

    corpus = spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(7, [1.0, 0.0])], ["query_id", "embedding"]
    )
    with_self = brute_force_topk(corpus, queries, k=2, exclude_self=False)
    without = brute_force_topk(corpus, queries, k=2, exclude_self=True)
    ids_with = {r["vec_id"] for r in with_self.collect()}
    ids_without = {r["vec_id"] for r in without.collect()}
    assert ids_with == {7, 8}
    assert ids_without == {8}


def test_ivf_reuses_pretrained_centroids(spark):
    """Passing trained centroids skips k-means: search twice against the
    same index, identical results, and the centroid table is exactly the
    one supplied (index-build / index-search split)."""
    from mapreduce_4_spark.operators.ann_ivf import ivf_topk, train_centroids
    from mapreduce_4_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = train_centroids(emb, k=4).persist()
    try:
        a = sorted(map(tuple, ivf_topk(
            emb, queries, k=5, centroids=centroids).collect()))
        b = sorted(map(tuple, ivf_topk(
            emb, queries, k=5, centroids=centroids).collect()))
        assert a == b and len(a) > 0
    finally:
        centroids.unpersist()


def test_connected_components_rejects_nonpositive_max_iter(spark):
    from mapreduce_4_spark.operators.clustering import connected_components

    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(pairs, max_iter=0)


def test_lsh_topk_requires_dim(spark):
    from mapreduce_4_spark.operators.similarity import lsh_topk

    emb = spark.createDataFrame([(1, [0.1, 0.2])], ["vec_id", "embedding"])
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="dim"):
        lsh_topk(emb, q, dim=None)


def test_bpe_first_merge_equals_top_pair(spark, sf_oracle):
    """Round 1 of the iterative BPE trainer counts exactly what
    bpe_top_pairs counts (character pairs weighted by word frequency),
    so its first adopted merge must be that query's #1 row."""
    from mapreduce_4_spark.plans import REGISTRY

    top = REGISTRY["bpe_top_pairs"].builder(spark, sf_oracle).first()
    first_merge = (
        REGISTRY["bpe_train_merges"].builder(spark, sf_oracle)
        .filter(F.col("merge_rank") == 1)
        .first()
    )
    assert first_merge["pair"] == f"{top['pair'][0]} {top['pair'][1]}"
    assert first_merge["pair_count"] == top["pair_count"]


def test_bpe_merges_are_progressively_adopted(spark, sf_oracle):
    """Each round merges its winner everywhere before the next count, so
    no pair may be adopted twice and counts never increase."""
    from mapreduce_4_spark.plans import REGISTRY

    rows = (
        REGISTRY["bpe_train_merges"].builder(spark, sf_oracle)
        .orderBy("merge_rank")
        .collect()
    )
    pairs = [r["pair"] for r in rows]
    assert len(set(pairs)) == len(pairs)
    counts = [r["pair_count"] for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
