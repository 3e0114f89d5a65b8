"""Fixed-centroid IVF labelling in one map pass, and extended indexes
that own their table.

* every fixed-centroid build and extend labels its rows exactly as the
  SQL literal fold ``element_at(coarse_sorted_sql(vec, C), 1)`` does,
  and the encodes that read the list centre read the fold's float32
  ``cv``: the IVF-Flat, IVF-SQ, IVF-BQ, RaBitQ and IVF-PQ ``expr``
  tables (labels, codes and scalars) equal the fold's, with duplicated
  centres (ties), a dim that is not a multiple of 8 and more rows in
  one Arrow batch than the probe kernel's block;
* a null or wrong-length vector fails those builds and extends with a
  ``ValueError`` naming the row id, its length and the index dim;
* the IVF-Flat, IVF-PQ, IVF-SQ and RaBitQ extends keep the base table's
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
from cuvs_spark.functions.distance import distance_sql_spark
from cuvs_spark.operators.ivf_flat import (ivf_flat_build, ivf_flat_extend,
                                           ivf_flat_search)
from cuvs_spark.operators.ivf_pq import (_pq_encode, _sq_enc, ivf_bq_build,
                                         ivf_pq_build, ivf_pq_extend,
                                         ivf_pq_search, ivf_pq_transform,
                                         ivf_sq_build, ivf_sq_extend,
                                         ivf_sq_search)
from cuvs_spark.operators.ivf_rabitq import (_DOT, _codes, _decode, _fold,
                                             _res, ivf_rabitq_build,
                                             ivf_rabitq_extend,
                                             ivf_rabitq_search)
from cuvs_spark.plans.layout import plan_string
from cuvs_spark.preprocessing.pq import PQCodebook, _res_expr
from cuvs_spark.preprocessing.quantize import binary_quantize

DIM, N_LISTS, K, N_PROBES = 8, 6, 5, 3


def _dyadic(rng, shape):
    return (np.round(rng.normal(size=shape) * 256) / 256).astype(np.float32)


def _frame(spark, ids, X, id_col="id"):
    return spark.createDataFrame(pd.DataFrame(
        {id_col: np.asarray(ids, np.int64), "vec": list(X)}))


def _table(df):
    """A table's rows, arrays as tuples, sorted."""
    return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                  for r in df.collect())


def _kernel_and_fold(spark, which, df, C):
    """``(kernel table, fold table)`` of one fixed-centroid build or
    extend: the index's table, and the same columns computed from the
    SQL literal fold's label ``l`` and centre ``cv`` with the module's
    own encode expressions (the encode the fold fed before)."""
    n, dim = C.shape
    f = df.withColumn("_b", F.expr(
        f"element_at({coarse_sorted_sql('vec', C)}, 1)"))
    l, cv = F.col("_b.l"), "_b.cv"
    empty = df.limit(0)
    if which == "flat":
        return (ivf_flat_build(df, n, centroids=C).lists
                .select("id", "list_id"), f.select("id", l))
    if which in ("sq", "sq_extend"):
        kw = dict(centroids=C, lo=-2.0, hi=2.0)
        ix = (ivf_sq_build(df, n, **kw) if which == "sq" else
              ivf_sq_extend(ivf_sq_build(empty, n, **kw), df))
        return ix.rcodes, f.select("id", l, F.expr(_sq_enc("vec", cv,
                                                           -2.0, 2.0)))
    if which == "bq":
        return (ivf_bq_build(df, n, centroids=C).bits,
                binary_quantize(f).select("id", l, "bits"))
    if which in ("rabitq", "rabitq_extend"):
        ix = (ivf_rabitq_build(df, n, centroids=C) if which == "rabitq" else
              ivf_rabitq_extend(ivf_rabitq_build(empty, n, centroids=C), df))
        s = (f.select("id", l.cast("long").alias("l"),
                      F.expr(_res("spark", "vec", cv)).alias("res"),
                      F.expr(distance_sql_spark("sqeuclidean", "vec", cv))
                      .alias("n2"))
             .withColumn("codes", F.expr(_codes("spark", "res", "n2", 3)))
             .withColumn("v", F.expr(_decode("spark", "codes", 3))))
        return ix.codes, s.select("id", "l", "codes", "n2",
                                  F.expr(_fold("spark", "v", "v", _DOT)),
                                  F.expr(_fold("spark", "v", "res", _DOT)))
    # IVF-PQ expr, residual encode, on a given codebook
    pq_dim = 1 if dim % 2 else 2
    book = PQCodebook(np.random.default_rng(5).normal(
        size=(pq_dim, 16, dim // pq_dim)))
    ix = ivf_pq_build(df, n, pq_dim, 4, centroids=C, codebook=book,
                      encode="residual", method="expr")
    enc_in = f.select("id", l.cast("long").alias("list_id"),
                      F.expr(_res_expr("vec", cv)).alias("vec"))
    return ix.codes, _pq_encode(enc_in, ix.codebook_df, pq_dim)


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
    for which in ("flat", "sq", "sq_extend", "bq", "rabitq",
                  "rabitq_extend", "pq_expr"):
        kernel, fold = _kernel_and_fold(spark, which, df, C)
        assert _table(kernel) == _table(fold), which


def _bad_frame(spark, kind):
    vecs = [[0.0, 0.0, 0.0], [1.0, 1.0, 1.0], [0.5, 0.5, 0.5]]
    vecs.append(None if kind == "null" else [0.0, 0.1])
    return spark.createDataFrame(list(enumerate(vecs)),
                                 "id long, vec array<float>")


def _build(op, df, C):
    """A fixed-centroid ``op`` build over ``df``, forced."""
    if op == "ivf_flat":
        return ivf_flat_build(df, 2, centroids=C).lists.collect()
    if op == "ivf_sq":
        return ivf_sq_build(df, 2, centroids=C).rcodes.collect()
    if op == "ivf_bq":
        return ivf_bq_build(df, 2, centroids=C).bits.collect()
    if op == "ivf_rabitq":
        return ivf_rabitq_build(df, 2, centroids=C).codes.collect()
    book = PQCodebook(np.zeros((1, 4, 3)))
    return ivf_pq_build(df, 2, 1, 2, centroids=C, codebook=book,
                        encode="residual", method="expr").codes.collect()


_EXTENDS = {
    "ivf_flat": lambda good, C, b: ivf_flat_extend(
        ivf_flat_build(good, 2, centroids=C), b),
    "ivf_sq": lambda good, C, b: ivf_sq_extend(
        ivf_sq_build(good, 2, centroids=C), b),
    "ivf_rabitq": lambda good, C, b: ivf_rabitq_extend(
        ivf_rabitq_build(good, 2, centroids=C), b),
}


@pytest.mark.parametrize("kind", ["null", "short"])
def test_bad_vector_names_the_row(spark, kind):
    C = np.array([[1.0, 1.0, 1.0], [0.0, 0.0, 0.0]])
    what = "a null vector" if kind == "null" else "2 dims"
    msg = f"id 3 has {what} but the index has 3 dims"
    bad = _bad_frame(spark, kind)
    for op in ("ivf_flat", "ivf_sq", "ivf_bq", "ivf_rabitq", "ivf_pq"):
        with pytest.raises(Exception, match=f"ValueError: {op}_build: {msg}"):
            _build(op, bad, C)
    for op, extend in _EXTENDS.items():
        # the extend materializes its table, so it fails before returning
        with pytest.raises(Exception,
                           match=f"ValueError: {op}_extend: {msg}"):
            extend(bad.filter(F.col("id") < 3), C,
                   bad.filter(F.col("id") == 3))


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


def test_rabitq_extend_owns_table_and_searches_like_union(spark, data):
    base = ivf_rabitq_build(data["base"], N_LISTS, centroids=data["C"])
    n = base.codes.rdd.getNumPartitions()
    ext = _twice(ivf_rabitq_extend, base, data["batches"])
    # the old extend appended the new rows' codes lazily
    old = _twice(lambda ix, b: replace(ix, codes=ix.codes.unionByName(
        ivf_rabitq_build(b, N_LISTS, centroids=data["C"]).codes)),
        base, data["batches"])
    assert ext.codes.rdd.getNumPartitions() == n
    assert ext.codes.count() == 600
    assert "MapInPandas" not in plan_string(ext.codes)
    for method in ("blas", "expr"):
        assert _rows(ivf_rabitq_search(ext, data["queries"], K, N_PROBES,
                                       score_method=method)) == \
            _rows(ivf_rabitq_search(old, data["queries"], K, N_PROBES,
                                    score_method=method))


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
