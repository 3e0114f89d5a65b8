"""One-pass IVF batch search: driver-side coarse probes, a broadcast
query batch and one map pass over the inverted file.

* the NumPy probe kernel must return exactly the rows of the SQL fold
  it replaces on the throughput path (same lists, same tie order, same
  float32-narrowed centroids);
* the ``blas`` plans of IVF-Flat and IVF-PQ hold a single shuffle — the
  top-k merge — and the index table feeds it only through the local
  top-k;
* a repeat IVF-PQ search runs no codebook job;
* a query of the wrong length fails before any job, naming both dims;
* ``select_k``'s window strategy tolerates inputs that already carry
  its temp column or the rank column.
"""

from __future__ import annotations

import uuid
from dataclasses import replace

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_spark.cluster.kmeans import coarse_probes, coarse_sorted_sql
from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
from cuvs_spark.operators.select_k import select_k
from cuvs_spark.plans.layout import count_exchanges, plan_string


def _sql_probe_rows(spark, Q, C, n_probes):
    q = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(Q)],
        "qid long, vec array<float>")
    cs = coarse_sorted_sql("vec", C)
    rows = (q.select("qid", F.posexplode(F.expr(
        f"slice({cs}, 1, {n_probes})")).alias("pos", "s"))
        .select("qid", "pos", "s.l", "s.cv").collect())
    return sorted((r["qid"], r["pos"] + 1, r["l"], tuple(r["cv"]))
                  for r in rows)


def _kernel_probe_rows(Q, C, n_probes):
    lids = coarse_probes(np.asarray(Q, np.float32), C, n_probes)
    C32 = np.asarray(C, np.float32).astype(np.float64)
    return sorted((qid, rank + 1, int(l), tuple(C32[l].tolist()))
                  for qid, row in enumerate(lids)
                  for rank, l in enumerate(row))


def _probe_case(name):
    rng = np.random.default_rng(11)
    if name == "duplicate_centroids":
        C = rng.standard_normal((8, 5))
        C[5], C[6] = C[1], C[2]          # exact distance ties
        return rng.standard_normal((20, 5)).astype(np.float32), C, 4
    if name == "query_equals_centroid":
        C = rng.standard_normal((8, 5))
        C[7] = C[3]
        Q = np.vstack([C[[3, 0]], rng.standard_normal((6, 5))])
        return Q.astype(np.float32), C, 3
    if name == "probes_exceed_lists":
        C = rng.standard_normal((6, 5))
        return rng.standard_normal((10, 5)).astype(np.float32), C, 9
    # float64 centroids whose float32 narrowing reverses their order for
    # the query 0.5: c1 is nearer in float64, c0 (→ exactly 0.5) in float32
    C = np.zeros((3, 4))
    C[:, 0] = [0.5 + 2.9e-8, 0.5 - 1.6e-8, 3.0]
    Q = np.zeros((1, 4), np.float32)
    Q[0, 0] = 0.5
    d64 = ((Q.astype(np.float64) - C) ** 2).sum(1)
    assert list(np.argsort(d64, kind="stable")[:2]) == [1, 0]
    return Q, C, 2


@pytest.mark.parametrize("case", ["duplicate_centroids",
                                  "query_equals_centroid",
                                  "probes_exceed_lists",
                                  "float32_narrowing_reorders"])
def test_coarse_probes_match_sql_fold(spark, case):
    Q, C, n_probes = _probe_case(case)
    want = _sql_probe_rows(spark, Q, C, n_probes)
    got = _kernel_probe_rows(Q, C, n_probes)
    assert got == want
    if case == "float32_narrowing_reorders":
        assert [r[2] for r in got] == [0, 1]


@pytest.fixture(scope="module")
def small_indexes(spark, vectors_df, tiny_vectors):
    # checkpointed tables: the plans below show the search alone, not
    # the build lineage (the blas PQ encode carries its own join)
    cents = tiny_vectors[:6].astype(np.float64)
    flat = ivf_flat_build(vectors_df, 6, centroids=cents)
    flat = replace(flat, lists=flat.lists.localCheckpoint())
    pq = ivf_pq_build(vectors_df, 6, pq_dim=2, pq_bits=4, centroids=cents,
                      encode="residual", method="blas", seed=3)
    pq = replace(pq, codes=pq.codes.localCheckpoint())
    return flat, pq


def _assert_one_pass_plan(df):
    plan = plan_string(df)
    # one shuffle and no broadcast join: the qid-keyed top-k merge over
    # the local top-k rows — the index table itself never shuffles
    assert count_exchanges(df) == (1, 0), plan
    assert "Arguments: hashpartitioning(qid#" in plan, plan
    assert "MapInPandas" in plan, plan
    assert "CoGroup" not in plan, plan


def test_flat_blas_plan_is_one_pass(spark, small_indexes, queries_df):
    flat, _ = small_indexes
    for method in ("blas", "broadcast"):
        _assert_one_pass_plan(ivf_flat_search(flat, queries_df, 5, 3,
                                              method=method))


def test_pq_blas_plan_is_one_pass(spark, small_indexes, queries_df):
    _, pq = small_indexes
    for method in ("blas", "broadcast"):
        _assert_one_pass_plan(ivf_pq_search(pq, queries_df, 5, 3,
                                            method=method))


def _jobs_run_by(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_pq_search_runs_no_codebook_job(spark, small_indexes,
                                               queries_df, tmp_path):
    from cuvs_spark.sources import load_ivf_pq, save_ivf_pq
    _, pq = small_indexes
    # a stored index: its codebook table is a parquet scan, so reading
    # it is a real job (a driver-built one would be a local relation)
    save_ivf_pq(pq, str(tmp_path / "pq"))
    loaded = load_ivf_pq(spark, str(tmp_path / "pq"))
    first = _jobs_run_by(spark, lambda: ivf_pq_search(
        loaded, queries_df, 5, 3, method="blas"))
    second = _jobs_run_by(spark, lambda: ivf_pq_search(
        loaded, queries_df, 5, 3, method="blas"))
    assert first - second == 1, (first, second)
    a = ivf_pq_search(loaded, queries_df, 5, 3, method="blas").collect()
    b = ivf_pq_search(pq, queries_df, 5, 3, method="blas").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.mark.parametrize("which", ["ivf_flat", "ivf_pq"])
def test_query_dim_mismatch_names_both_dims(spark, small_indexes, which):
    flat, pq = small_indexes
    bad = spark.createDataFrame([(0, [0.1, 0.2, 0.3])],
                                "qid long, vec array<float>")
    search = (ivf_flat_search if which == "ivf_flat" else ivf_pq_search)
    index = flat if which == "ivf_flat" else pq
    with pytest.raises(ValueError, match=r"3 dims.*index has 8"):
        search(index, bad, 5, 3, method="blas")


def test_select_k_window_input_has_temp_column(spark):
    df = spark.createDataFrame(
        [(1, 0.3, 7), (1, 0.1, 8), (1, 0.2, 9), (2, 0.5, 10)],
        "key int, v double, _rn int")
    out = select_k(df, "key", "v", 2)
    assert out.columns == ["key", "v", "_rn", "rank"]
    assert sorted(map(tuple, out.collect())) == [
        (1, 0.1, 8, 1), (1, 0.2, 9, 2), (2, 0.5, 10, 1)]


def test_select_k_window_replaces_rank_column(spark):
    df = spark.createDataFrame(
        [(1, 0.3, 99), (1, 0.1, 98), (1, 0.2, 97), (2, 0.5, 96)],
        "key int, v double, rank long")
    out = select_k(df, "key", "v", 2)
    assert out.columns == ["key", "v", "rank"]
    assert sorted(map(tuple, out.collect())) == [
        (1, 0.1, 1), (1, 0.2, 2), (2, 0.5, 1)]
