"""Clustering + IVF quality tests — mirror the reference's recall-based
harness (``ann_utils.py:130`` recall ≥ 0.7 default grid;
``kmeans_test_blobs.cuh`` inertia checks; ``test_serialization.py``
save→load→search equality)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_spark.cluster import cluster_cost, kmeans_fit, kmeans_predict
from cuvs_spark.operators import knn
from cuvs_spark.operators.ivf_flat import (
    ivf_flat_build,
    ivf_flat_extend,
    ivf_flat_search,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return (spark.read.parquet(f"{SF}/embeddings.parquet")
            .select(F.col("vec_id").alias("id"),
                    F.col("embedding").alias("vec"), "label").cache())


def recall_at_k(ann_df, exact_df, k):
    a = {(r["qid"], r["nid"]) for r in ann_df.select("qid", "nid").collect()}
    e = {(r["qid"], r["nid"]) for r in exact_df.select("qid", "nid").collect()}
    return len(a & e) / len(e)


def test_kmeans_matches_numpy_lloyd(spark, emb):
    """Fitted inertia must be in the same ballpark as a NumPy Lloyd
    oracle (the testdata's labels are NOT separable — between-centroid
    distance ≈0.04 vs within-spread ≈1.0 — so quality is judged by
    inertia, as in ``kmeans.pyx:449`` cluster_cost tests)."""
    model = kmeans_fit(emb.select("id", "vec"), 10, max_iter=10, seed=1)
    assert model.centroids.shape == (10, 64)
    fitted = cluster_cost(emb.select("id", "vec"), model).head()["inertia"]
    rows = emb.select("id", "vec").orderBy("id").collect()
    X = np.array([r["vec"] for r in rows], dtype=float)
    rng = np.random.default_rng(1)
    C = X[rng.choice(len(X), 10, replace=False)]
    for _ in range(10):
        D = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        lab = D.argmin(1)
        for j in range(10):
            if (lab == j).any():
                C[j] = X[lab == j].mean(0)
    oracle = D.min(1).sum()
    assert fitted <= oracle * 1.1, (fitted, oracle)
    # and beats the trivial fixed-centroid quantizer
    first10 = X[:10]
    naive = cluster_cost(emb.select("id", "vec"), first10).head()["inertia"]
    assert fitted < naive


def test_ivf_recall_and_pruning(spark, emb):
    d = emb.select("id", "vec")
    q = (emb.filter(F.col("id") < 30)
         .select(F.col("id").alias("qid"), F.col("vec").alias("qv")))
    idx = ivf_flat_build(d, n_lists=10, kmeans_n_iters=8, seed=3)
    exact = knn(d, q, 10, "sqeuclidean", qvec_col="qv")
    # testdata has weak cluster structure (see kmeans test) — probe
    # half the lists; recall must still clear the reference 0.7 floor
    approx = ivf_flat_search(idx, q, 10, n_probes=5, qvec_col="qv")
    r = recall_at_k(approx, exact, 10)
    assert r >= 0.7, f"recall {r}"
    # probing everything must be exact (recall 1.0)
    full = ivf_flat_search(idx, q, 10, n_probes=10, qvec_col="qv")
    assert recall_at_k(full, exact, 10) == 1.0


def test_ivf_extend_matches_full_build(spark, emb):
    d = emb.select("id", "vec")
    cent = np.array(
        [r["vec"] for r in emb.filter(F.col("id") < 8).orderBy("id").collect()],
        dtype=float)
    q = (emb.filter(F.col("id") < 10)
         .select(F.col("id").alias("qid"), F.col("vec").alias("qv")))
    full = ivf_flat_search(
        ivf_flat_build(d, 8, centroids=cent), q, 5, 3, qvec_col="qv")
    part = ivf_flat_build(d.filter(F.col("id") % 2 == 0), 8, centroids=cent)
    ext = ivf_flat_extend(part, d.filter(F.col("id") % 2 == 1))
    got = ivf_flat_search(ext, q, 5, 3, qvec_col="qv")
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, full.collect())))


def test_ivf_save_load_roundtrip(spark, emb, tmp_path):
    from cuvs_spark.sources import load_ivf_flat, save_ivf_flat
    d = emb.select("id", "vec")
    q = (emb.filter(F.col("id") < 5)
         .select(F.col("id").alias("qid"), F.col("vec").alias("qv")))
    idx = ivf_flat_build(d, 8, kmeans_n_iters=4, seed=7)
    before = ivf_flat_search(idx, q, 5, 4, qvec_col="qv").collect()
    path = str(tmp_path / "ivf_index")
    save_ivf_flat(idx, path)
    idx2 = load_ivf_flat(spark, path)
    after = ivf_flat_search(idx2, q, 5, 4, qvec_col="qv").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_ivf_extend_adaptive_centers(spark, emb):
    """adaptive_centers drift (ivf_flat.pyx:78-88): after extending,
    each center equals the mean of its list."""
    d = emb.select("id", "vec")
    cent = np.array(
        [r["vec"] for r in emb.filter(F.col("id") < 4).orderBy("id").collect()],
        dtype=float)
    idx = ivf_flat_build(d.filter(F.col("id") < 250), 4, centroids=cent)
    ext = ivf_flat_extend(idx, d.filter(F.col("id") >= 250),
                          adaptive_centers=True)
    assert not np.allclose(ext.centroids, cent)
    rows = ext.lists.collect()
    by_list = {}
    for r in rows:
        by_list.setdefault(r["list_id"], []).append(r["vec"])
    for l, vs in by_list.items():
        np.testing.assert_allclose(ext.centroids[l],
                                   np.asarray(vs, float).mean(0), atol=1e-9)


def test_ivf_bq_refine_recall(spark, emb):
    """1-bit IVF (rabitq-style): popcount shortlist + exact refine must
    reach the reference recall floor."""
    from cuvs_spark.operators.ivf_pq import ivf_bq_build, ivf_bq_search
    d = emb.select("id", "vec")
    q = (emb.filter(F.col("id") < 20)
         .select(F.col("id").alias("qid"), F.col("vec").alias("qv")))
    idx = ivf_bq_build(d, 8, kmeans_n_iters=6, seed=9)
    exact = knn(d, q, 10, "sqeuclidean", qvec_col="qv")
    # sign bits are a weak sketch on this barely-clustered data — widen
    # the shortlist (the reference's refinement_rate knob) to recover
    got = ivf_bq_search(idx, q, 10, n_probes=6, qvec_col="qv",
                        refine_with=d, refine_k0=120)
    r = recall_at_k(got, exact, 10)
    assert r >= 0.7, r


def test_kmeans_balanced_caps_list_sizes_larger_n(spark):
    """kmeans_balanced (``kmeans_balanced.cuh``) at a larger n: no
    cluster may exceed the rebalance cap (max_ratio × n/k) by more than
    the one-pass approximation's slack — the property that keeps IVF
    partitions even at scale."""
    import numpy as np
    from cuvs_spark.cluster import kmeans_fit
    from cuvs_spark.cluster.kmeans import assign

    rng = np.random.default_rng(5)
    # skewed data: half the mass in one tight blob, the rest spread out
    tight = rng.normal(0.0, 0.05, (2000, 8))
    wide = rng.normal(0.0, 4.0, (2000, 8))
    X = np.vstack([tight, wide])
    d = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(len(X))],
        "id long, vec array<float>")
    k = 16
    model = kmeans_fit(d, k, max_iter=8, seed=3, balanced=True)
    lab = assign(d, model.centroids)
    sizes = [r["n"] for r in
             lab.groupBy("label").agg(F.count("*").alias("n")).collect()]
    # unbalanced k-means would put ~50% of rows in one list; balanced
    # must stay under 3× the even share
    assert max(sizes) <= 3.0 * len(X) / k, sizes


def test_ivf_flat_broadcast_path_agrees(spark, vectors_df, queries_df):
    """The one-pass ``blas`` search (inverted file never shuffles) must
    rank-match the expr path."""
    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
    idx = ivf_flat_build(vectors_df, 8, kmeans_n_iters=4)
    outs = {}
    for m in ("expr", "blas"):
        outs[m] = sorted(
            (r["qid"], r["rank"], r["nid"])
            for r in ivf_flat_search(idx, queries_df, 5, 4,
                                     method=m).collect())
    assert outs["expr"] == outs["blas"]


def test_ivf_prefilter_all_methods(spark, vectors_df, queries_df):
    """The bitset-analog prefilter must exclude filtered ids on every
    physical path, for both IVF-Flat and IVF-PQ."""
    from pyspark.sql import functions as F

    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
    pred = F.col("id") % 3 != 0
    idx = ivf_flat_build(vectors_df, 8, kmeans_n_iters=4)
    outs = {}
    for m in ("expr", "blas"):
        rows = ivf_flat_search(idx, queries_df, 5, 8, method=m,
                               prefilter=pred).collect()
        assert rows and all(r["nid"] % 3 != 0 for r in rows)
        outs[m] = sorted((r["qid"], r["rank"], r["nid"]) for r in rows)
    assert outs["expr"] == outs["blas"]

    pq = ivf_pq_build(vectors_df, 8, pq_dim=4, pq_bits=4)
    for m in ("expr", "blas"):
        rows = ivf_pq_search(pq, queries_df, 5, 8, method=m,
                             prefilter=pred).collect()
        assert rows and all(r["nid"] % 3 != 0 for r in rows)
