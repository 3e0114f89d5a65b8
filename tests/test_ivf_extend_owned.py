"""Fixed-centroid IVF-Flat labelling in one map pass, and extended
indexes that own their table.

* ``ivf_flat_build(centroids=…)`` labels every row exactly as the SQL
  literal fold ``element_at(coarse_sorted_sql(vec, C), 1).l`` does:
  with duplicated centres (ties), a dim that is not a multiple of 8 and
  more rows in one Arrow batch than the probe kernel's block;
* a null or wrong-length vector fails the build and the extend with a
  ``ValueError`` naming the row id, its length and the index dim;
* the IVF-Flat, IVF-PQ and IVF-SQ extends keep the base table's
  partition count over two extends, materialize their table and search
  exactly like the lazy ``unionByName`` extend they replace;
* a ``blas`` search on an index built and then extended twice runs as
  many tasks as one on an index built over the same rows, with the
  same ``(qid, nid, distance, rank)`` rows.

Vectors are multiples of 1/256 (centres and codebooks too), so every
distance is exact in float64 whatever the summation order: results of
differently partitioned tables compare bit for bit.
"""

from __future__ import annotations

import uuid
from dataclasses import replace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cuvs_spark.cluster.kmeans import _PROBE_BLOCK, coarse_sorted_sql
from cuvs_spark.operators.ivf_flat import (ivf_flat_build, ivf_flat_extend,
                                           ivf_flat_search)
from cuvs_spark.operators.ivf_pq import (ivf_pq_build, ivf_pq_extend,
                                         ivf_pq_search, ivf_pq_transform,
                                         ivf_sq_build, ivf_sq_extend,
                                         ivf_sq_search)
from cuvs_spark.plans.layout import plan_string
from cuvs_spark.preprocessing.pq import PQCodebook

DIM, N_LISTS, K, N_PROBES = 8, 6, 5, 3


def _dyadic(rng, shape):
    return (np.round(rng.normal(size=shape) * 256) / 256).astype(np.float32)


def _frame(spark, ids, X, id_col="id"):
    return spark.createDataFrame(pd.DataFrame(
        {id_col: np.asarray(ids, np.int64), "vec": list(X)}))


def _sql_labels(df, C):
    cs = coarse_sorted_sql("vec", C)
    return sorted((r["id"], r["l"]) for r in df.select(
        "id", F.expr(f"element_at({cs}, 1).l").alias("l")).collect())


def _kernel_labels(df, C):
    idx = ivf_flat_build(df, len(C), centroids=C)
    return sorted((r["id"], r["list_id"]) for r in idx.lists.collect())


@pytest.mark.parametrize("case", ["ties", "dim17", "over_probe_block"])
def test_kernel_labels_match_sql_fold(spark, case):
    rng = np.random.default_rng(11)
    if case == "ties":
        # small-integer rows and centres: many rows are equidistant
        # from two centres, and centres 1 and 4 are the same point
        X = rng.integers(0, 3, (300, DIM)).astype(np.float32)
        C = rng.integers(0, 3, (N_LISTS, DIM)).astype(np.float64)
        C[4] = C[1]
        df = _frame(spark, np.arange(len(X)), X)
    elif case == "dim17":
        X = rng.normal(size=(300, 17)).astype(np.float32)
        C = rng.normal(size=(N_LISTS, 17)) + 1e-3 / 3
        df = _frame(spark, np.arange(len(X)), X)
    else:
        # one partition, so one Arrow batch holds more rows than one
        # block of the probe kernel
        n = _PROBE_BLOCK + 900
        X = rng.normal(size=(n, DIM)).astype(np.float32)
        C = rng.normal(size=(N_LISTS, DIM)) + 1e-3 / 3
        df = _frame(spark, np.arange(n), X).coalesce(1)
    assert _kernel_labels(df, C) == _sql_labels(df, C)


def _bad_frame(spark, kind):
    vecs = [[0.0, 0.0, 0.0], [1.0, 1.0, 1.0], [0.5, 0.5, 0.5]]
    vecs.append(None if kind == "null" else [0.0, 0.1])
    return spark.createDataFrame(list(enumerate(vecs)),
                                 "id long, vec array<float>")


@pytest.mark.parametrize("kind", ["null", "short"])
def test_bad_vector_names_the_row(spark, kind):
    C = np.array([[1.0, 1.0, 1.0], [0.0, 0.0, 0.0]])
    what = "a null vector" if kind == "null" else "2 dims"
    msg = f"id 3 has {what} but the index has 3 dims"
    bad = _bad_frame(spark, kind)
    with pytest.raises(Exception, match=f"ValueError: ivf_flat_build: {msg}"):
        ivf_flat_build(bad, 2, centroids=C).lists.collect()
    good = ivf_flat_build(bad.filter(F.col("id") < 3), 2, centroids=C)
    # the extend materializes its table, so it fails before returning
    with pytest.raises(Exception, match=f"ValueError: ivf_flat_extend: {msg}"):
        ivf_flat_extend(good, bad.filter(F.col("id") == 3))


@pytest.fixture(scope="module")
def data(spark):
    """600 dyadic rows: a base of 400 and two extend batches of 100."""
    rng = np.random.default_rng(3)
    X = _dyadic(rng, (600, DIM))
    ids = np.arange(600)
    C = X[:N_LISTS].astype(np.float64)
    Q = _dyadic(rng, (20, DIM))
    return dict(
        X=X, C=C,
        base=_frame(spark, ids[:400], X[:400]),
        full=_frame(spark, ids, X),
        batches=[_frame(spark, ids[s:s + 100], X[s:s + 100])
                 for s in (400, 500)],
        queries=_frame(spark, np.arange(len(Q)), Q, "qid"))


def _rows(df):
    return sorted(tuple(r) for r in df.select(
        "qid", "nid", "distance", "rank").collect())


def _union_flat(index, rows):
    """The lazy extend this engine had before its extends owned their
    table: the SQL fold's labels, appended with ``unionByName``."""
    cs = coarse_sorted_sql("vec", index.centroids)
    add = rows.select("id", F.expr(f"element_at({cs}, 1).l").alias("list_id"),
                      "vec")
    return replace(index, lists=index.lists.unionByName(add))


def _twice(extend, index, batches):
    for b in batches:
        index = extend(index, b)
    return index


def test_flat_extend_owns_table_and_searches_like_union(spark, data):
    base = ivf_flat_build(data["base"], N_LISTS, centroids=data["C"])
    n = base.lists.rdd.getNumPartitions()
    ext = _twice(ivf_flat_extend, base, data["batches"])
    old = _twice(_union_flat, base, data["batches"])
    assert ext.lists.rdd.getNumPartitions() == n
    assert ext.lists.count() == 600
    # materialized: reading the table labels no row again
    assert "MapInPandas" not in plan_string(ext.lists)
    for method in ("blas", "expr"):
        assert _rows(ivf_flat_search(ext, data["queries"], K, N_PROBES,
                                     method=method)) == \
            _rows(ivf_flat_search(old, data["queries"], K, N_PROBES,
                                  method=method))
    # the index passed in keeps its own table
    assert base.lists.count() == 400


def test_pq_extend_owns_table_and_searches_like_union(spark, data):
    rng = np.random.default_rng(9)
    # 4 subspaces of 32 codes: distance ties at rank k stay unlikely
    book = PQCodebook(_dyadic(rng, (4, 32, DIM // 4)).astype(np.float64))
    base = ivf_pq_build(data["base"], N_LISTS, 4, 5, centroids=data["C"],
                        codebook=book, encode="residual", method="blas")
    n = base.codes.rdd.getNumPartitions()
    ext = _twice(lambda ix, b: ivf_pq_extend(ix, b, method="blas"), base,
                 data["batches"])
    old = _twice(lambda ix, b: replace(ix, codes=ix.codes.unionByName(
        ivf_pq_transform(ix, b, method="blas"))), base, data["batches"])
    assert ext.codes.rdd.getNumPartitions() == n
    assert ext.codes.count() == 600
    assert _rows(ivf_pq_search(ext, data["queries"], K, N_PROBES,
                               method="blas")) == \
        _rows(ivf_pq_search(old, data["queries"], K, N_PROBES,
                            method="blas"))


def test_sq_extend_owns_table_and_searches_like_union(spark, data):
    # a dyadic decode step: (hi - lo) / 255 = 1/64
    kw = dict(centroids=data["C"], lo=-255 / 128, hi=255 / 128)
    base = ivf_sq_build(data["base"], N_LISTS, **kw)
    n = base.rcodes.rdd.getNumPartitions()
    ext = _twice(ivf_sq_extend, base, data["batches"])
    # the old extend encoded new rows with the build's SQL expressions
    old = _twice(lambda ix, b: replace(ix, rcodes=ix.rcodes.unionByName(
        ivf_sq_build(b, N_LISTS, **kw).rcodes)), base, data["batches"])
    assert ext.rcodes.rdd.getNumPartitions() == n
    assert ext.rcodes.count() == 600
    for method in ("blas", "expr"):
        assert _rows(ivf_sq_search(ext, data["queries"], K, N_PROBES,
                                   method=method)) == \
            _rows(ivf_sq_search(old, data["queries"], K, N_PROBES,
                                method=method))


def _tasks_run_by(spark, fn):
    """``fn()`` and the number of Spark tasks its jobs completed."""
    sc = spark.sparkContext
    group = f"tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    infos = [st.getStageInfo(s) for j in st.getJobIdsForGroup(group)
             for s in st.getJobInfo(j).stageIds]
    return out, sum(i.numCompletedTasks for i in infos if i is not None)


def test_extended_index_searches_like_a_built_one(spark, data):
    """ROADMAP item 3: a search on an index built then extended twice
    runs the tasks of a search on an index built over the same rows."""
    built = ivf_flat_build(data["full"], N_LISTS, centroids=data["C"])
    ext = _twice(ivf_flat_extend,
                 ivf_flat_build(data["base"], N_LISTS, centroids=data["C"]),
                 data["batches"])
    assert (ext.lists.rdd.getNumPartitions()
            == built.lists.rdd.getNumPartitions())

    def search(ix):
        return _tasks_run_by(spark, lambda: _rows(ivf_flat_search(
            ix, data["queries"], K, N_PROBES, method="blas")))

    search(built), search(ext)          # warm both
    (want, n_built), (got, n_ext) = search(built), search(ext)
    assert got == want
    assert n_ext == n_built, (n_ext, n_built)
