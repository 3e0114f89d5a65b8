"""IVF-PQ residual encoding (``ivf_pq_build.cuh:79-127
select_residuals``; ``force_random_rotation`` ``ivf_pq.pyx:40-172``) —
the fidelity path: residual codes must clear the reference recall
thresholds (``python/cuvs/cuvs/tests/ann_utils.py:130``, 0.7–0.95) at
realistic ``n_lists``, where raw-subvector codes fall short.

Synthetic clustered data (seeded) so n_lists=64 is meaningful; testdata
embeddings at sf0.001 are only 500 rows.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_spark.operators import knn
from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search

N, DIM, NQ = 4000, 32, 30
N_LISTS, N_PROBES, K = 64, 16, 10


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((N_LISTS, DIM)) * 4.0
    lab = rng.integers(0, N_LISTS, N)
    X = centers[lab] + rng.standard_normal((N, DIM))
    d = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(N)],
        "id long, vec array<float>").cache()
    q = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(NQ)],
        "qid long, qv array<float>").cache()
    return d, q


@pytest.fixture(scope="module")
def exact(data):
    d, q = data
    return knn(d, q, K, "sqeuclidean", qvec_col="qv").cache()


def recall_at_k(ann_df, exact_df):
    a = {(r["qid"], r["nid"]) for r in ann_df.select("qid", "nid").collect()}
    e = {(r["qid"], r["nid"]) for r in exact_df.select("qid", "nid").collect()}
    return len(a & e) / len(e)


def test_residual_recall_clears_reference_floor(data, exact):
    d, q = data
    idx = ivf_pq_build(d, N_LISTS, pq_dim=8, pq_bits=8, encode="residual",
                       seed=3, method="blas")
    got = ivf_pq_search(idx, q, K, N_PROBES, qvec_col="qv", method="blas")
    r = recall_at_k(got, exact)
    assert r >= 0.7, f"residual recall {r}"


def test_residual_beats_raw_encoding(data, exact):
    """The point of residuals: quantizing ``x - center`` (small energy)
    loses far less than quantizing raw subvectors at realistic
    n_lists."""
    d, q = data
    raw = ivf_pq_build(d, N_LISTS, pq_dim=8, pq_bits=8, encode="raw",
                       seed=3, method="blas")
    res = ivf_pq_build(d, N_LISTS, pq_dim=8, pq_bits=8, encode="residual",
                       seed=3, method="blas")
    r_raw = recall_at_k(
        ivf_pq_search(raw, q, K, N_PROBES, qvec_col="qv", method="blas"),
        exact)
    r_res = recall_at_k(
        ivf_pq_search(res, q, K, N_PROBES, qvec_col="qv", method="blas"),
        exact)
    assert r_res >= r_raw, f"residual {r_res} < raw {r_raw}"


def test_rotation_preserves_recall(data, exact):
    """Orthogonal rotation is distance-preserving — recall with
    force_random_rotation must stay above the floor."""
    d, q = data
    idx = ivf_pq_build(d, N_LISTS, pq_dim=8, pq_bits=8, encode="residual",
                       force_random_rotation=True, seed=3, method="blas")
    assert idx.rotation is not None
    R = idx.rotation
    np.testing.assert_allclose(R @ R.T, np.eye(DIM), atol=1e-9)
    got = ivf_pq_search(idx, q, K, N_PROBES, qvec_col="qv", method="blas")
    r = recall_at_k(got, exact)
    assert r >= 0.7, f"rotated residual recall {r}"


def test_residual_expr_matches_blas_ids(data):
    """The oracle-exact expr path and the scale blas path must agree on
    the returned neighbor sets (fixed centroids + codebook)."""
    d, q = data
    rows = d.filter(F.col("id") < N_LISTS).orderBy("id").collect()
    cent = np.array([r["vec"] for r in rows], dtype=float)
    idx_e = ivf_pq_build(d, N_LISTS, pq_dim=8, pq_bits=4, encode="residual",
                         centroids=cent, seed=3)
    idx_b = ivf_pq_build(d, N_LISTS, pq_dim=8, pq_bits=4, encode="residual",
                         centroids=cent, codebook=idx_e.codebook_df,
                         seed=3, method="blas")
    a = ivf_pq_search(idx_e, q.limit(10), K, N_PROBES, qvec_col="qv")
    b = ivf_pq_search(idx_b, q.limit(10), K, N_PROBES, qvec_col="qv",
                      method="blas")
    sa = {(r["qid"], r["nid"]) for r in a.collect()}
    sb = {(r["qid"], r["nid"]) for r in b.collect()}
    # tied PQ distances may order differently; demand ≥95% agreement
    assert len(sa & sb) / len(sa) >= 0.95


def test_residual_rotated_extend_matches_union_build(data):
    """ivf_pq_extend on the residual+rotated path: building on a subset
    and extending with the rest must score identically to one build
    over everything (centers, codebook and rotation are immutable)."""
    from cuvs_spark.operators.ivf_pq import ivf_pq_extend
    d, q = data
    rows = d.filter(F.col("id") < N_LISTS).orderBy("id").collect()
    cent = np.array([r["vec"] for r in rows], dtype=float)
    full = ivf_pq_build(d, N_LISTS, pq_dim=8, pq_bits=4, encode="residual",
                        centroids=cent, seed=3, method="blas",
                        force_random_rotation=True)
    part = ivf_pq_build(d.filter(F.col("id") >= 500), N_LISTS, pq_dim=8,
                        pq_bits=4, encode="residual", centroids=cent,
                        codebook=full.codebook_df, seed=3, method="blas",
                        force_random_rotation=True)
    assert np.array_equal(part.rotation, full.rotation)  # seeded
    ext = ivf_pq_extend(part, d.filter(F.col("id") < 500))
    qq = q.limit(10)
    a = ivf_pq_search(full, qq, K, N_PROBES, qvec_col="qv", method="blas")
    b = ivf_pq_search(ext, qq, K, N_PROBES, qvec_col="qv", method="blas")
    sa = sorted((r["qid"], r["nid"], round(r["distance"], 9))
                for r in a.collect())
    sb = sorted((r["qid"], r["nid"], round(r["distance"], 9))
                for r in b.collect())
    assert sa == sb


def test_sq_extend_matches_union_build(data):
    from cuvs_spark.operators.ivf_pq import (ivf_sq_build, ivf_sq_extend,
                                             ivf_sq_search)
    d, q = data
    rows = d.filter(F.col("id") < 16).orderBy("id").collect()
    cent = np.array([r["vec"] for r in rows], dtype=float)
    full = ivf_sq_build(d, 16, centroids=cent, lo=-2.0, hi=2.0)
    part = ivf_sq_build(d.filter(F.col("id") >= 500), 16, centroids=cent,
                        lo=-2.0, hi=2.0)
    ext = ivf_sq_extend(part, d.filter(F.col("id") < 500))
    qq = q.limit(10)
    a = ivf_sq_search(full, qq, K, 4, qvec_col="qv")
    b = ivf_sq_search(ext, qq, K, 4, qvec_col="qv")
    sa = sorted((r["qid"], r["nid"]) for r in a.collect())
    sb = sorted((r["qid"], r["nid"]) for r in b.collect())
    assert sa == sb


def test_broadcast_path_agrees_with_cogroup(spark, vectors_df, queries_df):
    """The one-pass ``blas`` search (codes never shuffle — the 100 TB
    shape) must rank-match the expr oracle path."""
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
    idx = ivf_pq_build(vectors_df, 8, pq_dim=4, pq_bits=4,
                       encode="residual")
    outs = {}
    for m in ("expr", "blas"):
        outs[m] = sorted(
            (r["qid"], r["rank"], r["nid"])
            for r in ivf_pq_search(idx, queries_df, 5, 4,
                                   method=m).collect())
    assert outs["expr"] == outs["blas"]
