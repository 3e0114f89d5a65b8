"""One-pass IVF-PQ build (``method="blas"``): the codebook trains on the
driver from one seeded sample collect, and one map pass assigns,
shifts, rotates and encodes every row.

* job counts: at most one job before the build returns (none with a
  given codebook), one job and no exchange to force the codes;
* the codes equal a NumPy reference (GEMM argmin, residual against the
  float32-narrowed centres, per-subspace argmin) on the residual,
  rotation and raw paths, and ``ivf_pq_transform`` emits the same rows;
* ``codebook_array`` is the collected ``codebook_df``, the trained one
  equals a NumPy reference, and it survives ``ivf_pq_extend``;
* a null or wrong-length vector fails with a ``ValueError`` naming the
  row id, on the driver sample and in the workers;
* the blas search shifts queries by the float32-narrowed centres the
  codes were encoded against.
"""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_spark.operators.ivf_pq import (ivf_pq_build, ivf_pq_extend,
                                         ivf_pq_search, ivf_pq_transform)
from cuvs_spark.plans.layout import count_exchanges
from cuvs_spark.preprocessing.pq import (PQCodebook, _train_books,
                                         codebook_array)

N_LISTS, PQ_DIM, PQ_BITS = 6, 2, 4


def _jobs_run_by(spark, fn):
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def cents(tiny_vectors):
    # float64 centres that float32 does not represent exactly, so the
    # narrowing the build and the search share is visible
    return tiny_vectors[:N_LISTS].astype(np.float64) + 1e-3 / 3


@pytest.fixture(scope="module")
def book():
    rng = np.random.default_rng(5)
    return PQCodebook(rng.standard_normal((PQ_DIM, 1 << PQ_BITS, 4)) * 0.3)


def _rows(df):
    return sorted((r["id"], r["list_id"], tuple(r["codes"]))
                  for r in df.collect())


def _numpy_codes(X, C, CB, rotation, encode):
    C32 = C.astype(np.float32).astype(np.float64)
    lab = ((C * C).sum(1)[None, :] - 2.0 * (X @ C.T)).argmin(1)
    R = X - C32[lab] if encode == "residual" else X
    if rotation is not None:
        R = R @ rotation.T
    S, _, w = CB.shape
    R3 = R[:, :S * w].reshape(len(R), S, w)
    codes = ((R3[:, :, None, :] - CB[None]) ** 2).sum(-1).argmin(-1)
    return sorted((i, int(l), tuple(int(c) for c in row))
                  for i, (l, row) in enumerate(zip(lab, codes)))


def test_blas_build_job_counts(spark, vectors_df, cents, book):
    kw = dict(centroids=cents, encode="residual", method="blas", seed=3)
    idx, trained = _jobs_run_by(spark, lambda: ivf_pq_build(
        vectors_df, N_LISTS, PQ_DIM, PQ_BITS, **kw))
    assert trained <= 1, trained
    given, n = _jobs_run_by(spark, lambda: ivf_pq_build(
        vectors_df, N_LISTS, PQ_DIM, PQ_BITS, codebook=book, **kw))
    assert n == 0, n
    for ix in (idx, given):
        assert count_exchanges(ix.codes) == (0, 0)
        _, n = _jobs_run_by(spark, lambda: ix.codes.write.format("noop")
                            .mode("overwrite").save())
        assert n == 1, n


@pytest.mark.parametrize("path", ["residual", "rotation", "raw"])
def test_blas_codes_match_numpy_reference(spark, vectors_df, tiny_vectors,
                                          cents, book, path):
    idx = ivf_pq_build(vectors_df, N_LISTS, PQ_DIM, PQ_BITS,
                       centroids=cents, codebook=book, method="blas",
                       encode="raw" if path == "raw" else "residual",
                       force_random_rotation=path == "rotation", seed=3)
    assert (idx.rotation is not None) == (path == "rotation")
    CB32 = book.codebook.astype(np.float32).astype(np.float64)
    want = _numpy_codes(tiny_vectors.astype(np.float64), cents, CB32,
                        idx.rotation, idx.encode)
    assert _rows(idx.codes) == want
    assert idx.codes.schema.simpleString() == (
        "struct<id:bigint,list_id:int,codes:array<int>>")
    # transform with the index's centres and codebook: the same rows
    part = vectors_df.filter(F.col("id") % 3 == 0)
    got = _rows(ivf_pq_transform(idx, part, method="blas"))
    assert got == [r for r in want if r[0] % 3 == 0]


def test_codebook_array_is_the_collected_table(spark, vectors_df,
                                               tiny_vectors, cents, book):
    for cb in (None, book):
        idx = ivf_pq_build(vectors_df, N_LISTS, PQ_DIM, PQ_BITS,
                           centroids=cents, codebook=cb, method="blas",
                           encode="residual", seed=3)
        arr = idx.codebook_array
        assert np.array_equal(arr, codebook_array(idx.codebook_df))
        assert np.array_equal(arr, arr.astype(np.float32))
    # the trained codebook: Lloyd over the float32-centre residuals of
    # the sample (all 100 rows, in xxhash64(id, seed) order)
    order = [r["id"] for r in vectors_df.orderBy(
        F.xxhash64("id", F.lit(3)), "id").collect()]
    X = tiny_vectors[order].astype(np.float64)
    C32 = cents.astype(np.float32).astype(np.float64)
    lab = ((cents * cents).sum(1)[None, :] - 2.0 * (X @ cents.T)).argmin(1)
    want = _train_books(X - C32[lab], PQ_DIM, 1 << PQ_BITS,
                        np.random.default_rng(3), 10)
    trained = ivf_pq_build(vectors_df, N_LISTS, PQ_DIM, PQ_BITS,
                           centroids=cents, method="blas",
                           encode="residual", seed=3)
    assert np.array_equal(trained.codebook_array,
                          want.astype(np.float32).astype(np.float64))


def test_extend_keeps_the_collected_codebook(spark, vectors_df, queries_df,
                                             cents, tmp_path):
    from cuvs_spark.sources import load_ivf_pq, save_ivf_pq
    idx = ivf_pq_build(vectors_df.filter(F.col("id") >= 20), N_LISTS,
                       PQ_DIM, PQ_BITS, centroids=cents, method="blas",
                       encode="residual", seed=3)
    # a stored index: its codebook table is a parquet scan, so reading
    # it is a real job (a driver-built one would be a local relation)
    save_ivf_pq(idx, str(tmp_path / "pq"))
    loaded = load_ivf_pq(spark, str(tmp_path / "pq"))
    assert loaded.codebook is None

    def search(ix):
        return _jobs_run_by(spark, lambda: ivf_pq_search(
            ix, queries_df, 5, 3, method="blas"))[1]

    # the first search collects the codebook (one job), later ones not
    cold, warm = search(loaded), search(loaded)
    assert cold == warm + 1, (cold, warm)
    ext = ivf_pq_extend(loaded, vectors_df.filter(F.col("id") < 20),
                        method="blas")
    first, second = search(ext), search(ext)
    assert first == second, (first, second)


def _bad_rows(spark, tiny_vectors, kind):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(tiny_vectors)]
    rows[7] = (7, None if kind == "null" else [0.1, 0.2, 0.3])
    return spark.createDataFrame(rows, "id long, vec array<float>")


@pytest.mark.parametrize("kind", ["null", "short"])
def test_bad_vector_names_the_row(spark, tiny_vectors, cents, book, kind):
    df = _bad_rows(spark, tiny_vectors, kind)
    what = "a null vector" if kind == "null" else "3 dims"
    msg = f"ivf_pq_build: id 7 has {what} but the index has 8 dims"
    kw = dict(centroids=cents, encode="residual", method="blas", seed=3)
    # the driver-side training sample (100 rows, all of them sampled)
    with pytest.raises(ValueError, match=msg):
        ivf_pq_build(df, N_LISTS, PQ_DIM, PQ_BITS, **kw)
    # a given codebook: the row reaches the workers' encode pass
    idx = ivf_pq_build(df, N_LISTS, PQ_DIM, PQ_BITS, codebook=book, **kw)
    with pytest.raises(Exception, match=f"ValueError: {msg}"):
        idx.codes.collect()


def test_blas_search_shifts_by_float32_centres(spark, vectors_df,
                                               queries_df, tiny_queries,
                                               cents, book):
    idx = ivf_pq_build(vectors_df, N_LISTS, PQ_DIM, PQ_BITS,
                       centroids=cents, codebook=book, method="blas",
                       encode="residual", seed=3)
    codes = {r["id"]: (r["list_id"], np.array(r["codes"]))
             for r in idx.codes.collect()}
    got = ivf_pq_search(idx, queries_df, 10, N_LISTS,
                        method="blas").collect()
    assert len(got) == 10 * len(tiny_queries)
    CB = idx.codebook_array
    S, _, w = CB.shape

    def ref(C, r):
        lid, code = codes[r["nid"]]
        res = tiny_queries[r["qid"]].astype(np.float64) - C[lid]
        return sum(((res[s * w:(s + 1) * w] - CB[s, code[s]]) ** 2).sum()
                   for s in range(S))

    d = np.array([r["distance"] for r in got])
    c32 = cents.astype(np.float32).astype(np.float64)
    np.testing.assert_allclose(d, [ref(c32, r) for r in got], rtol=1e-12)
    # the float64 centres are a different (and wrong) shift
    assert not np.allclose(d, [ref(cents, r) for r in got], rtol=1e-12,
                           atol=0)
