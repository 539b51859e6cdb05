"""IVF coarse-quantizer ANN (operators/similarity.py: ivf_*).

Covers the properties the oracle can't see: recall against the exact
brute-force baseline, invariance to input partitioning (the codebook is
built from integer-quantized sums, so repartitioning must not change ANY
output bit), and the degenerate-cluster index cap.
"""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE


def _emb(spark):
    return spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")


def test_ivf_assign_partitioning_invariant(spark):
    from uncharted_ta1_pipeline_spark.operators.similarity import ivf_assign

    emb = _emb(spark)
    a = ivf_assign(emb).toPandas().sort_values("vec_id").reset_index(drop=True)
    b = (
        ivf_assign(emb.repartition(13, "label"))
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    # total assignment: every vector lands in exactly one cluster
    assert len(a) == emb.count()
    assert a["vec_id"].is_unique


def test_ivf_topk_recall_vs_bruteforce(spark):
    """nprobe=4 of 16 clusters must recover a solid share of the true
    top-10 — and probing ALL clusters must be exact (recall 1.0)."""
    from uncharted_ta1_pipeline_spark.operators.similarity import (
        IVF_CENTROIDS,
        ann_bruteforce,
        ivf_topk,
    )

    emb = _emb(spark)
    truth = ann_bruteforce(emb, n_queries=5, k=10).toPandas()
    true_pairs = set(zip(truth["query_id"], truth["neighbor_id"]))

    approx = ivf_topk(emb, n_queries=5, k=10).toPandas()
    got = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.5, f"nprobe=4/16 recall too low: {recall}"

    exact = ivf_topk(emb, n_queries=5, k=10, nprobe=IVF_CENTROIDS).toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    assert exact_pairs == true_pairs, "nprobe=all must equal brute force"


def test_ivf_cluster_cap_bounds_candidates(spark):
    """With max_cluster=1 each probed cluster contributes at most one
    candidate, so each query returns at most nprobe rows — the degenerate-
    cluster guard actually binds."""
    from uncharted_ta1_pipeline_spark.operators.similarity import ivf_topk

    out = ivf_topk(_emb(spark), n_queries=5, k=10, max_cluster=1).toPandas()
    per_q = out.groupby("query_id").size()
    assert (per_q <= 4).all(), per_q


def test_ivf_assign_uses_partial_agg_not_window(spark):
    """The nearest-centroid argmin must be a min_by aggregate (map-side
    partial combine of the N x k expanded rows), not a row_number window
    that shuffles the whole expanded stream (VERDICT r3 #4)."""
    from uncharted_ta1_pipeline_spark.operators.similarity import ivf_assign

    df = ivf_assign(_emb(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_min_by" in plan, plan[:3000]
    # no row_number window partitioned on the vector id anywhere (the only
    # remaining Window is the k-row codebook seed ranking, which is fine)
    assert "windowspecdefinition(vec_id" not in plan, plan[:3000]


def test_ann_recall_floors(spark):
    """The registered ann_recall query (recall@10 of each approximate index
    vs the exact baseline at sf0.01) stays above stated floors: the number
    a user tuning planes/tables/nprobe consumes.  Floors carry ~2x margin
    under the measured values (ann_lsh 0.40, ivf_topk 0.52 at the 5x8 LSH
    default — the retune ann_recall itself motivated; the old 8x4 config
    measured 0.02)."""
    from uncharted_ta1_pipeline_spark.operators.similarity import ann_recall

    r = ann_recall(_emb(spark), n_queries=5, k=10).toPandas()
    mean = r.groupby("method")["recall_at_k"].mean()
    assert mean["ann_lsh"] >= 0.2, mean
    assert mean["ivf_topk"] >= 0.3, mean
    # every (method, query) pair is present, hit counts bounded by k
    assert len(r) == 10 and (r["n_hit"] <= r["n_truth"]).all()


@pytest.mark.parametrize("method", ["ann_lsh", "ivf_topk"])
def test_ann_pairs_unique(spark, method):
    """ann_recall left-joins the truth list against each method's approx
    list; each truth row is counted once only if every
    (query_id, neighbor_id) pair is unique within a method's list.  A
    duplicate would inflate n_truth and corrupt recall silently."""
    from uncharted_ta1_pipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    df = getattr(similarity, method)(emb, n_queries=5, k=10)
    n = df.count()
    assert n > 0
    assert df.select("query_id", "neighbor_id").distinct().count() == n
