"""One-pass IVF batch search: driver-side coarse probes, a broadcast
query batch and one map pass over the inverted file.

* the NumPy probe kernel must return exactly the rows of the SQL fold
  it replaces on the throughput path (same lists, same tie order, same
  float32-narrowed centroids);
* the ``blas`` plans of IVF-Flat, IVF-PQ, IVF-SQ and RaBitQ hold a
  single shuffle — the top-k merge — and the index table feeds it only
  through the local top-k; ScaNN's reorder runs the same scan, with no
  cogroup;
* the IVF-SQ, RaBitQ and ScaNN reorder ``blas`` searches rank like
  their ``expr`` oracle paths; IVF-SQ decodes against the same
  float32-narrowed centres as the build, and RaBitQ's per-list query
  residuals are bit-identical to the SQL values;
* a repeat IVF-PQ search runs no codebook job;
* among rows tied at the k-th distance, every local top-k keeps the
  lowest ids, so a ``blas`` search returns the ``expr`` rows whatever
  the table's partitioning;
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
from cuvs_spark.operators.ivf_flat import (_local_topk, ivf_flat_build,
                                           ivf_flat_search)
from cuvs_spark.operators.ivf_pq import (ivf_pq_build, ivf_pq_search,
                                         ivf_sq_build, ivf_sq_search)
from cuvs_spark.operators.ivf_rabitq import (_query_residuals, _res,
                                             ivf_rabitq_build,
                                             ivf_rabitq_search)
from cuvs_spark.operators.scann import scann_build, scann_search
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
    sq = ivf_sq_build(vectors_df, 6, centroids=cents)
    sq = replace(sq, rcodes=sq.rcodes.localCheckpoint())
    rq = ivf_rabitq_build(vectors_df, 6, centroids=cents)
    rq = replace(rq, codes=rq.codes.localCheckpoint())
    return flat, pq, sq, rq


def _assert_one_pass_plan(df):
    plan = plan_string(df)
    # one shuffle and no broadcast join: the qid-keyed top-k merge over
    # the local top-k rows — the index table itself never shuffles
    assert count_exchanges(df) == (1, 0), plan
    assert "Arguments: hashpartitioning(qid#" in plan, plan
    assert "MapInPandas" in plan, plan
    assert "CoGroup" not in plan, plan


def test_flat_blas_plan_is_one_pass(spark, small_indexes, queries_df):
    flat = small_indexes[0]
    _assert_one_pass_plan(ivf_flat_search(flat, queries_df, 5, 3,
                                          method="blas"))


def test_pq_blas_plan_is_one_pass(spark, small_indexes, queries_df):
    pq = small_indexes[1]
    _assert_one_pass_plan(ivf_pq_search(pq, queries_df, 5, 3,
                                        method="blas"))


def test_sq_blas_plan_is_one_pass(spark, small_indexes, queries_df):
    sq = small_indexes[2]
    _assert_one_pass_plan(ivf_sq_search(sq, queries_df, 5, 3,
                                        method="blas"))


def test_rabitq_blas_plan_is_one_pass(spark, small_indexes, queries_df):
    rq = small_indexes[3]
    _assert_one_pass_plan(ivf_rabitq_search(rq, queries_df, 5, 3,
                                            score_method="blas"))


@pytest.fixture(scope="module")
def scann_index(spark, vectors_df, tiny_vectors):
    return scann_build(vectors_df, 6, centroids=tiny_vectors[:6])


def test_scann_reorder_blas_scans_without_cogroup(spark, scann_index,
                                                  queries_df):
    plan = plan_string(scann_search(scann_index, queries_df, 5, 3,
                                    score_method="blas"))
    assert "MapInPandas" in plan, plan
    assert "CoGroup" not in plan, plan


def _ranks(df):
    return sorted(map(tuple, df.select("qid", "nid", "rank").collect()))


def test_rabitq_blas_ranks_like_expr(spark, small_indexes, vectors_df,
                                    queries_df):
    rq = small_indexes[3]
    for kw in ({}, dict(refine_with=vectors_df, refine_k0=12)):
        want = _ranks(ivf_rabitq_search(rq, queries_df, 5, 3, **kw))
        got = _ranks(ivf_rabitq_search(rq, queries_df, 5, 3,
                                       score_method="blas", **kw))
        assert got == want


def test_scann_reorder_blas_ranks_like_expr(spark, scann_index,
                                            queries_df):
    want = _ranks(scann_search(scann_index, queries_df, 5, 3))
    got = _ranks(scann_search(scann_index, queries_df, 5, 3,
                              score_method="blas"))
    assert got == want
    assert len(got) == 12 * 5


def test_sq_blas_decodes_against_float32_centres(spark, vectors_df,
                                                 queries_df, tiny_vectors):
    # centres that float32 does not represent: the build encodes, and
    # the expr search decodes, against their float32 narrowing
    cents = tiny_vectors[:6].astype(np.float64) / 3
    sq = ivf_sq_build(vectors_df, 6, centroids=cents)
    want = sorted(map(tuple, ivf_sq_search(sq, queries_df, 5, 3).collect()))
    got = sorted(map(tuple, ivf_sq_search(sq, queries_df, 5, 3,
                                          method="blas").collect()))
    assert [(g[0], g[1], g[3]) for g in got] == \
        [(w[0], w[1], w[3]) for w in want]
    np.testing.assert_allclose([g[2] for g in got], [w[2] for w in want],
                               rtol=1e-12, atol=0)


def test_rabitq_query_residuals_match_sql(spark, tiny_queries, tiny_vectors):
    from cuvs_spark.functions.distance import distance_sql_spark
    C = tiny_vectors[:6].astype(np.float64) / 3
    q = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(tiny_queries)],
        "qid long, _qv array<float>")
    cs = coarse_sorted_sql("_qv", C)
    rows = (q.select("qid", "_qv", F.explode(F.expr(
        f"slice({cs}, 1, 6)")).alias("_s"))
        .select("qid", F.col("_s.l").alias("l"),
                F.expr(_res("spark", "_qv", "_s.cv")).alias("qres"),
                F.expr(distance_sql_spark("sqeuclidean", "_qv", "_s.cv"))
                .alias("qn2"))
        .collect())
    assert len(rows) == len(tiny_queries) * 6
    Q = tiny_queries.astype(np.float64)
    C32 = C.astype(np.float32).astype(np.float64)
    for r in rows:
        R, n2 = _query_residuals(Q[[r["qid"]]], C32[r["l"]])
        assert R[0].tolist() == r["qres"]
        assert n2[0] == r["qn2"]


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
    pq = small_indexes[1]
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


@pytest.mark.parametrize("which", ["ivf_flat", "ivf_pq", "ivf_sq",
                                   "ivf_rabitq", "scann"])
def test_query_dim_mismatch_names_both_dims(spark, small_indexes,
                                            scann_index, which):
    flat, pq, sq, rq = small_indexes
    bad = spark.createDataFrame([(0, [0.1, 0.2, 0.3])],
                                "qid long, vec array<float>")
    search = {
        "ivf_flat": lambda: ivf_flat_search(flat, bad, 5, 3, method="blas"),
        "ivf_pq": lambda: ivf_pq_search(pq, bad, 5, 3, method="blas"),
        "ivf_sq": lambda: ivf_sq_search(sq, bad, 5, 3, method="blas"),
        "ivf_rabitq": lambda: ivf_rabitq_search(rq, bad, 5, 3,
                                                score_method="blas"),
        "scann": lambda: scann_search(scann_index, bad, 5, 3,
                                      score_method="blas"),
    }[which]
    with pytest.raises(ValueError,
                       match=rf"{which}_search: .*3 dims.*index has 8"):
        search()


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


def test_local_topk_keeps_lowest_ids_among_ties():
    rng = np.random.default_rng(4)
    for m, p, k in [(30, 50, 5), (20, 7, 10), (10, 40, 1)]:
        S = rng.integers(0, 4, (m, p)).astype(np.float64)
        ids = rng.permutation(1000)[:p]
        part = _local_topk(S, ids, k)
        for r in range(m):
            want = np.lexsort((ids, S[r]))[:min(k, p)]
            assert sorted(ids[part[r]]) == sorted(ids[want])


def test_flat_blas_ties_do_not_depend_on_partitioning(spark):
    """Integer-valued rows tie at the k-th distance: the ``blas`` search
    of one table at 1 and at 7 partitions returns the ``expr`` rows."""
    rng = np.random.default_rng(8)
    X = rng.integers(0, 2, (400, 4)).astype(np.float32)
    df = spark.createDataFrame([(int(i), [float(x) for x in v])
                                for i, v in enumerate(X)],
                               "id long, vec array<float>")
    q = spark.createDataFrame([(int(i), [float(x) for x in v]) for i, v in
                               enumerate(rng.integers(0, 2, (12, 4)))],
                              "qid long, vec array<float>")
    idx = ivf_flat_build(df, 4, centroids=X[[0, 1, 2, 3]] + 0.25)
    idx = replace(idx, lists=idx.lists.localCheckpoint())

    def rows(ix, method):
        return sorted(map(tuple, ivf_flat_search(ix, q, 5, 2,
                                                 method=method).collect()))

    want = rows(idx, "expr")
    for n in (1, 7):
        parted = replace(idx, lists=idx.lists.repartition(n))
        assert rows(parted, "blas") == want, n
