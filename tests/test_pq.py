"""Product quantization (`operators/pq.py`): codebook shape and
determinism, encode round-trip properties, ADC + re-rank recall floor.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from uw_mapreduce_spark.operators.pq import pq_adc_topk, pq_encode, pq_train
from uw_mapreduce_spark.operators.similarity import knn_bruteforce
from uw_mapreduce_spark.sources.tables import load_table


def test_pq_codebook_shape_and_determinism(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    cb1 = pq_train(emb, m=8, k=16, iterations=1)
    rows1 = {(r.sub, r.code): tuple(r.cv) for r in cb1.collect()}
    assert len(rows1) == 8 * 16
    assert all(len(v) == 8 for v in rows1.values())  # 64 dims / 8 subspaces
    # Pure function of the corpus: identical on retrain.
    rows2 = {(r.sub, r.code): tuple(r.cv) for r in pq_train(emb, m=8, k=16, iterations=1).collect()}
    assert rows1 == rows2


def test_pq_encode_codes_valid_and_more_iterations_cut_mse(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    cb0 = pq_train(emb, m=8, k=16, iterations=0)  # raw seeds
    # Zero Lloyd steps still return the session-scoped persisted codebook.
    assert cb0.storageLevel != StorageLevel.NONE
    cb2 = pq_train(emb, m=8, k=16, iterations=2)
    mse = {}
    for name, cb in (("seed", cb0), ("lloyd", cb2)):
        enc = pq_encode(emb, cb, m=8)
        rows = enc.collect()
        assert all(len(r.codes) == 8 for r in rows)
        assert all(0 <= c < 16 for r in rows for c in r.codes)
        mse[name] = sum(r.mse_u for r in rows)
    # Lloyd refinement must not make quantization worse.
    assert mse["lloyd"] < mse["seed"]


def test_pq_adc_rerank_recall_floor(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    cb = pq_train(emb, m=16, k=32, iterations=2)
    truth = knn_bruteforce(emb, queries, k=10).select("query_id", "neighbor_id")
    got = pq_adc_topk(emb, queries, cb, k=10, m=16, rerank=100).select(
        "query_id", "neighbor_id"
    )
    n_truth = truth.count()
    n_hit = truth.join(got, ["query_id", "neighbor_id"], "left_semi").count()
    assert n_truth == 100  # 10 queries x k=10
    assert n_hit / n_truth >= 0.8


def test_ivf_pq_composed_recall_and_pruning(spark, sf_small):
    """The IVFADC composition (IVF cell pruning → ADC scoring → exact
    re-rank) must clear the same recall floor the catalog gate asserts
    (6/16 probes, n_assign=2, rerank=100 → measured 0.84)."""
    from uw_mapreduce_spark.operators.pq import ivf_pq_topk
    from uw_mapreduce_spark.operators.similarity import kmeans_centroids

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    cb = pq_train(emb, m=16, k=32, iterations=2)
    cents = kmeans_centroids(emb, 16)
    truth = knn_bruteforce(emb, queries, k=10).select("query_id", "neighbor_id")
    got = ivf_pq_topk(
        emb, queries, cb, cents, k=10, m=16, n_probes=6, n_assign=2, rerank=100
    ).select("query_id", "neighbor_id")
    n_hit = truth.join(got, ["query_id", "neighbor_id"], "left_semi").count()
    assert n_hit / truth.count() >= 0.75


def test_pq_adc_only_and_codebook_persistence(spark, sf_small, tmp_path):
    """ADC without re-rank returns exactly k deterministic rows per
    query; pq_encode infers m from the codebook when not passed; and a
    persisted codebook (save_ann_index — it is just a small DataFrame)
    reproduces the in-memory encoding exactly."""
    from uw_mapreduce_spark.operators.similarity import (
        load_ann_index,
        save_ann_index,
    )

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    cb = pq_train(emb, m=8, k=16, iterations=1)
    got = pq_adc_topk(emb, queries, cb, k=7, m=8).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    assert set(per_q) == {0, 1, 2, 3, 4}
    assert all(sorted(rk for rk, _ in v) == list(range(1, 8)) for v in per_q.values())
    # Determinism of the full ADC output.
    again = pq_adc_topk(emb, queries, cb, k=7, m=8).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    path = str(tmp_path / "pq_codebook")
    save_ann_index(cb, path)
    cb2 = load_ann_index(spark, path)
    enc1 = {r.vec_id: (tuple(r.codes), r.mse_u) for r in pq_encode(emb, cb, m=8).collect()}
    enc2 = {r.vec_id: (tuple(r.codes), r.mse_u) for r in pq_encode(emb, cb2).collect()}
    assert enc1 == enc2  # m inferred from the persisted codebook
