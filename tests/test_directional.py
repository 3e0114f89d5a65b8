"""Directional (max-close) support for the graph family — r11.

The reference's CAGRA and NN-Descent accept ``inner_product``
(``cagra.pyx:250``, ``nn_descent.pyx:48``), a max-close metric
(``distance.hpp:72-85``): larger dot product means closer. Before r11
the graph family guarded these out (ADVICE r10 #1's "restrict" arm);
this file pins the "flip" arm — every pool ordering, per-edge fold and
final top-k flips with ``is_min_close(metric)`` on BOTH engines
together, so the Spark operators and their unrolled DuckDB twins stay
value-hash-exact in either direction.

Every test is parametrized over (sqeuclidean, inner_product): the
sqeuclidean rows double as regression anchors proving the min-close
dataflow is unchanged by the parameterization (select_min=True folds to
the exact pre-r11 plans), the inner_product rows prove the new
direction. Vectors are integer-valued so float32 (Spark) and float64
(DuckDB pandas) inputs are identical and the DOUBLE folds match
bit-for-bit.
"""
from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cuvs_spark.operators import graph as G

N, DIM, NQ = 36, 5, 4
METRICS = ("sqeuclidean", "inner_product")


def _data(seed):
    rng = np.random.default_rng(seed)
    vecs = rng.integers(0, 12, size=(N, DIM)).astype(np.float64)
    qvecs = rng.integers(0, 12, size=(NQ, DIM)).astype(np.float64)
    return vecs, qvecs


def _random_edges(seed, out_degree, with_distance=False):
    rng = np.random.default_rng(seed + 1000)
    rows = []
    for s in range(N):
        choices = rng.choice([x for x in range(N) if x != s],
                             size=out_degree, replace=False)
        for d in choices:
            rows.append((s, int(d), float(rng.integers(0, 50)))
                        if with_distance else (s, int(d)))
    return rows


def _spark_ds(spark, vecs, qvecs):
    d = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, vec array<float>")
    q = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(qvecs)],
        "qid long, vec array<float>")
    return d, q


def _duck(vecs, qvecs, edges=None, with_distance=False):
    con = duckdb.connect()
    con.register("ds_pd", pd.DataFrame(
        {"nid": np.arange(N, dtype=np.int64), "dv": list(map(list, vecs))}))
    con.register("qs_pd", pd.DataFrame(
        {"qid": np.arange(NQ, dtype=np.int64), "qv": list(map(list, qvecs))}))
    if edges is not None:
        cols = {"src": np.array([e[0] for e in edges], np.int64),
                "dst": np.array([e[1] for e in edges], np.int64)}
        if with_distance:
            cols["distance"] = np.array([e[2] for e in edges], np.float64)
        con.register("eg_pd", pd.DataFrame(cols))
    return con


@pytest.mark.parametrize("metric", METRICS)
def test_nn_descent_directional_matches_unrolled_sql(spark, metric):
    vecs, qvecs = _data(7)
    d, _ = _spark_ds(spark, vecs, qvecs)
    ig = G.nn_descent_md5_init(d, 4)
    got = sorted(map(tuple, G.nn_descent_build(
        d, 4, max_iterations=2, termination_threshold=0.0,
        init_graph=ig, metric=metric).collect()))
    sql = G.nn_descent_sql("SELECT nid, dv FROM ds_pd", 4,
                           max_iterations=2, metric=metric)
    con = _duck(vecs, qvecs)
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want
    assert len(got) == N * 4
    if metric == "inner_product":
        # max-close sanity: each node's kept edges are its LARGEST dots
        dots = vecs @ vecs.T
        np.fill_diagonal(dots, -np.inf)
        by_src = {}
        for s, dd, dist, _ in got:
            by_src.setdefault(s, []).append(dist)
        # the descent is approximate, but the top-1 of a converged run
        # over the md5 init must be near the true max, never the min
        assert all(max(v) > np.median(dots[s][np.isfinite(dots[s])])
                   for s, v in by_src.items())


@pytest.mark.parametrize("metric", METRICS)
def test_cagra_search_directional_matches_unrolled_sql(spark, metric):
    vecs, qvecs = _data(13)
    edges = _random_edges(13, out_degree=4)
    d, q = _spark_ds(spark, vecs, qvecs)
    g = spark.createDataFrame(edges, "src long, dst long")
    seed_ids = (d.select(F.col("id").alias("nid"))
                .orderBy(F.md5(F.col("nid").cast("string")), "nid")
                .limit(5))
    seeds = q.select("qid").crossJoin(F.broadcast(seed_ids))
    got = sorted(map(tuple, G.cagra_search(
        g, d, q, 3, itopk=8, search_width=3, max_iterations=2,
        seeds=seeds, metric=metric, stop_on_empty=False).collect()))
    sql = G.cagra_search_sql(
        "SELECT nid, dv FROM ds_pd", "SELECT qid, qv FROM qs_pd",
        "SELECT src, dst FROM eg_pd", 3, itopk=8, search_width=3,
        max_iterations=2, n_seeds=5, metric=metric)
    con = _duck(vecs, qvecs, edges)
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want
    assert len(got) == NQ * 3


@pytest.mark.parametrize("metric", METRICS)
def test_cagra_extend_directional_matches_composed_sql(spark, metric):
    rng = np.random.default_rng(29)
    base = rng.integers(0, 12, size=(30, DIM)).astype(np.float64)
    newv = rng.integers(0, 12, size=(8, DIM)).astype(np.float64)
    edges = []
    for s in range(30):
        for dd in rng.choice([x for x in range(30) if x != s], size=4,
                             replace=False):
            edges.append((s, int(dd), float(rng.integers(0, 50))))
    d = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "id long, vec array<float>")
    new = spark.createDataFrame(
        [(100 + i, [float(x) for x in v]) for i, v in enumerate(newv)],
        "id long, vec array<float>")
    g = spark.createDataFrame(edges, "src long, dst long, distance double")
    seed_ids = (d.select(F.col("id").alias("nid"))
                .orderBy(F.md5(F.col("nid").cast("string")), "nid")
                .limit(5))
    seeds = (new.select(F.col("id").alias("qid"))
             .crossJoin(F.broadcast(seed_ids)))
    got_graph, got_ds = G.cagra_extend(
        g, d, new, 4, itopk=8, search_width=3, max_iterations=2,
        seeds=seeds, metric=metric)
    got = sorted(map(tuple, got_graph.collect()))
    assert got_ds.count() == 38

    con = duckdb.connect()
    con.register("base_pd", pd.DataFrame(
        {"nid": np.arange(30, dtype=np.int64), "dv": list(map(list, base))}))
    con.register("new_pd", pd.DataFrame(
        {"nid": np.arange(100, 108, dtype=np.int64),
         "dv": list(map(list, newv))}))
    con.register("eg_pd", pd.DataFrame(
        {"src": np.array([e[0] for e in edges], np.int64),
         "dst": np.array([e[1] for e in edges], np.int64),
         "distance": np.array([e[2] for e in edges], np.float64)}))
    sql = G.cagra_extend_sql(
        "SELECT nid, dv FROM base_pd", "SELECT nid, dv FROM new_pd",
        "SELECT src, dst, distance FROM eg_pd", 4, itopk=8,
        search_width=3, max_iterations=2, n_seeds=5, metric=metric)
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want


@pytest.mark.parametrize("select_min", (True, False))
def test_cagra_optimize_directional_matches_sql(spark, select_min):
    edges = _random_edges(3, out_degree=6, with_distance=True)
    g = spark.createDataFrame(edges, "src long, dst long, distance double")
    got = sorted(map(tuple, G.cagra_optimize(
        g, 3, select_min=select_min).collect()))
    sql = G.cagra_optimize_sql("SELECT src, dst, distance FROM eg_pd", 3,
                               select_min=select_min)
    vecs, qvecs = _data(3)
    con = _duck(vecs, qvecs, edges, with_distance=True)
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want
    assert got


def test_cagra_merge_directional_keeps_best_edge(spark):
    """Duplicate edges across merged graphs fold with max when
    select_min=False (the closest edge under a max-close metric)."""
    g1 = spark.createDataFrame([(0, 1, 5.0), (1, 0, 2.0)],
                               "src long, dst long, distance double")
    g2 = spark.createDataFrame([(0, 1, 9.0), (1, 2, 1.0), (2, 1, 1.0)],
                               "src long, dst long, distance double")
    out = {(r["src"], r["dst"]): r["distance"]
           for r in G.cagra_merge([g1, g2], 4,
                                  select_min=False).collect()}
    assert out[(0, 1)] == 9.0          # max fold, not min
    want_min = {(r["src"], r["dst"]): r["distance"]
                for r in G.cagra_merge([g1, g2], 4).collect()}
    # min fold: 2.0 — optimize's reverse pass mirrors (1,0,2.0) into
    # the (0,1) slot, and min(5.0, 9.0, 2.0) keeps it
    assert want_min[(0, 1)] == 2.0     # default unchanged


def test_all_neighbors_twins_flip_direction(spark):
    """SUPERSEDED-GUARD pin (r12, r11 verdict #3): the r11 min-close
    guard on the batch-partitioned build is gone — the templates now
    emit DESC/max folds for a max-close metric and the old ASC text
    for min-close (cross-engine equality in
    test_all_neighbors_directional_matches_sql /
    test_cagra_ace_directional_matches_sql)."""
    ip_an = G.all_neighbors_sql("SELECT 1", "SELECT 1", 3,
                                metric="inner_product")
    assert "DESC" in ip_an and "max(" in ip_an
    l2_an = G.all_neighbors_sql("SELECT 1", "SELECT 1", 3)
    assert "DESC" not in l2_an and "max(" not in l2_an
    ip_ace = G.cagra_ace_sql("SELECT 1", "SELECT 1", "SELECT 1", 3,
                             npartitions=2, metric="inner_product")
    assert "DESC" in ip_ace and "max(distance)" in ip_ace


def test_cagra_search_directional_corner_width_exceeds_pool(spark):
    """The r10 property-test corner (width > unexpanded pool, n_seeds >
    itopk) exercised in the max-close direction."""
    vecs, qvecs = _data(57)
    edges = _random_edges(57, out_degree=3)
    d, q = _spark_ds(spark, vecs, qvecs)
    g = spark.createDataFrame(edges, "src long, dst long")
    seed_ids = (d.select(F.col("id").alias("nid"))
                .orderBy(F.md5(F.col("nid").cast("string")), "nid")
                .limit(8))
    seeds = q.select("qid").crossJoin(F.broadcast(seed_ids))
    got = sorted(map(tuple, G.cagra_search(
        g, d, q, 2, itopk=5, search_width=5, max_iterations=2,
        seeds=seeds, metric="inner_product").collect()))
    sql = G.cagra_search_sql(
        "SELECT nid, dv FROM ds_pd", "SELECT qid, qv FROM qs_pd",
        "SELECT src, dst FROM eg_pd", 2, itopk=5, search_width=5,
        max_iterations=2, n_seeds=8, metric="inner_product")
    con = _duck(vecs, qvecs, edges)
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want


def test_hnsw_inner_product_end_to_end(spark):
    """hnsw_build already forwards builder kwargs to cagra_build, so
    the reference-supported inner_product index works through the
    whole stack (nn_descent base layer, directional upper-layer M-NN,
    layer-descent + base beam in hnsw_search) — recall vs the exact
    max-dot kNN clears the reference's own pass bar."""
    from cuvs_spark.operators.brute_force import knn
    from cuvs_spark.sources.graph_export import hnsw_build, hnsw_search

    vecs, qvecs = _data(73)
    d, q = _spark_ds(spark, vecs, qvecs)
    layers = hnsw_build(d, graph_degree=8, metric="inner_product",
                        hierarchy="cpu", build_algo="nn_descent",
                        max_iterations=3)
    got = hnsw_search(layers, d, q, 5, ef=24, metric="inner_product")
    exact = knn(d, q, 5, "inner_product", qvec_col="vec")
    hit = (got.select("qid", "nid")
           .intersect(exact.select("qid", "nid")).count())
    assert hit / (NQ * 5) >= 0.8
    # directional ordering: rank 1 carries the LARGEST dot per query
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["distance"]))
    for qid, pairs in by_q.items():
        ranked = [dist for _, dist in sorted(pairs)]
        assert ranked == sorted(ranked, reverse=True), qid


def _pq_fixtures(spark, vecs, qvecs, pq_dim=2, n_codes=4):
    """Fixed coarse centroids (vecs[:2]) + fixed per-subspace codebook
    (subvectors of vecs[:n_codes]) on both engines — integer-valued so
    float32 (Spark) and float64 (DuckDB) inputs are identical."""
    d, q = _spark_ds(spark, vecs, qvecs)
    w = DIM // pq_dim
    cb_rows = [(s, c, [float(x) for x in vecs[c][s * w:(s + 1) * w]])
               for s in range(pq_dim) for c in range(n_codes)]
    cb = spark.createDataFrame(cb_rows,
                               "sub int, code int, centroid array<float>")
    con = _duck(vecs, qvecs)
    con.register("cb_pd", pd.DataFrame(
        {"sub": np.array([r[0] for r in cb_rows], np.int64),
         "code": np.array([r[1] for r in cb_rows], np.int64),
         "centroid": [r[2] for r in cb_rows]}))
    return d, q, cb, con


_PQ_D_SQL = "SELECT nid AS id, dv FROM ds_pd"
_PQ_Q_SQL = "SELECT qid, qv FROM qs_pd"
_PQ_C_SQL = "SELECT nid AS label, dv AS cv FROM ds_pd WHERE nid < 2"
_PQ_CB_SQL = "SELECT sub, code, centroid FROM cb_pd"


@pytest.mark.parametrize("metric", METRICS + ("cosine",))
def test_ivf_sq_directional_matches_sql(spark, metric):
    """IVF-SQ, directional since r12 (the r11 entry guard's tracked
    flip, r11 verdict #2): decode-then-score in the index metric,
    best-k kept in its is_min_close direction on BOTH engines. The
    sqeuclidean row is the regression anchor (identical to the pre-r12
    plan); inner_product proves the flip — before r12 a max-close
    search would have silently kept the WORST k; the cosine row backs
    the any-metric claim (decode is metric-agnostic)."""
    from cuvs_spark.operators.ivf_pq import (ivf_sq_build, ivf_sq_search,
                                             ivf_sq_search_sql)
    vecs, qvecs = _data(91)
    d, q = _spark_ds(spark, vecs, qvecs)
    idx = ivf_sq_build(d, 2, centroids=vecs[:2], lo=-16.0, hi=16.0,
                       metric=metric)
    got = sorted(map(tuple,
                     ivf_sq_search(idx, q, 5, 2, qvec_col="vec").collect()))
    sql = ivf_sq_search_sql(_PQ_D_SQL, _PQ_Q_SQL, _PQ_C_SQL, 5, 2,
                            -16.0, 16.0, metric=metric)
    con = _duck(vecs, qvecs)
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want
    assert len(got) == NQ * 5
    # the blas fine stage agrees on ids+rank (GEMM floats aren't
    # bit-pinned, the ordering is)
    blas = sorted(map(tuple, ivf_sq_search(idx, q, 5, 2, qvec_col="vec",
                                           method="blas")
                      .select("qid", "nid", "rank").collect()))
    assert blas == sorted((g[0], g[1], g[3]) for g in got)


@pytest.mark.parametrize("metric", METRICS + ("euclidean", "cosine"))
@pytest.mark.parametrize("encode", ["raw", "residual"])
def test_ivf_pq_directional_matches_sql(spark, metric, encode):
    """IVF-PQ over the reference's FULL metric surface
    (ivf_pq.pyx:48-60), directional since r12: the per-subspace LUT
    term runs in the decomposed kind (L2 squared distances or subspace
    dots), euclidean takes the sqrt after the fold, cosine normalizes
    both sides at entry (float32-narrowed identically on both engines)
    and reports 1 − q̂·x̂, and for the IP-family residual encoding the
    per-(query, probed list) constant q·c adds in after the fold
    (q·(c+r̂) = q·c + Σ_sub q_sub·r̂_sub). sqeuclidean rows anchor the
    unchanged min-close plans; the other rows prove the new surface
    cross-engine hash-exact for both encodings."""
    from cuvs_spark.operators.ivf_pq import (ivf_pq_build, ivf_pq_search,
                                             ivf_pq_residual_search_sql,
                                             ivf_pq_search_sql)
    vecs, qvecs = _data(92)
    d, q, cb, con = _pq_fixtures(spark, vecs, qvecs)
    idx = ivf_pq_build(d, 2, 2, centroids=vecs[:2], codebook=cb,
                       encode=encode, metric=metric)
    got = sorted(map(tuple,
                     ivf_pq_search(idx, q, 4, 2, qvec_col="vec").collect()))
    twin = (ivf_pq_residual_search_sql if encode == "residual"
            else ivf_pq_search_sql)
    sql = twin(_PQ_D_SQL, _PQ_Q_SQL, _PQ_C_SQL, _PQ_CB_SQL, 4, 2, 2,
               metric=metric)
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want
    assert len(got) == NQ * 4
    if metric == "inner_product":
        # rank 1 carries the LARGEST approximate dot per query
        by_q = {}
        for qid, nid, dist, rank in got:
            by_q.setdefault(qid, []).append((rank, dist))
        for qid, pairs in by_q.items():
            ranked = [x for _, x in sorted(pairs)]
            assert ranked == sorted(ranked, reverse=True), qid


@pytest.mark.parametrize("metric", METRICS)
def test_ivf_pq_blas_broadcast_agree_directional(spark, metric):
    """The NumPy throughput path (one-pass blas) keeps the
    same per-rank scores as the expr/oracle path in both directions —
    the argpartition sign flip and the merge direction are the
    load-bearing bits. Compared on (qid, rank, distance): a 4-code
    codebook yields heavily TIED approximate distances (≤16 distinct
    values) and argpartition keeps an arbitrary member of a tie group,
    so nids permute within ties while the distance at every rank is
    identical (integer-valued data → the sums are exact in double)."""
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
    vecs, qvecs = _data(93)
    d, q, cb, _ = _pq_fixtures(spark, vecs, qvecs)
    idx = ivf_pq_build(d, 2, 2, centroids=vecs[:2], codebook=cb,
                       encode="residual", metric=metric)
    expr = sorted(map(tuple, ivf_pq_search(idx, q, 4, 2, qvec_col="vec")
                      .select("qid", "rank", "distance").collect()))
    alt = sorted(map(tuple, ivf_pq_search(idx, q, 4, 2, qvec_col="vec",
                                          method="blas")
                     .select("qid", "rank", "distance").collect()))
    assert alt == expr


@pytest.mark.parametrize("metric", METRICS)
def test_all_neighbors_directional_matches_sql(spark, metric):
    """The batch-partitioned all_neighbors build, directional since r12
    (r11 verdict #3 — the graph family's LAST min-close guard): the
    overlap batching stays on the L2 k-means geometry while local
    scoring, the duplicate fold and the final top-k flip with
    is_min_close(metric) on both engines."""
    vecs, qvecs = _data(95)
    d, _ = _spark_ds(spark, vecs, qvecs)
    got = sorted(map(tuple, G.all_neighbors_build(
        d, 4, n_clusters=3, overlap_factor=2, centroids=vecs[:3],
        metric=metric).collect()))
    sql = G.all_neighbors_sql(
        "SELECT nid AS id, dv FROM ds_pd",
        "SELECT nid AS label, dv AS cv FROM ds_pd WHERE nid < 3",
        4, 2, metric=metric)
    con = _duck(vecs, qvecs)
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want
    assert len(got) == N * 4


@pytest.mark.parametrize("metric", METRICS)
def test_cagra_ace_directional_matches_sql(spark, metric):
    """The ACE composition inherits the directional all_neighbors: with
    fixed partitioner + builder centroids the whole spill build matches
    its composed twin in both directions (per-shard optimize, min/max
    edge-union merge and the final optimize all follow the metric)."""
    vecs, qvecs = _data(96)
    d, _ = _spark_ds(spark, vecs, qvecs)
    got = sorted(map(tuple, G.cagra_build_ace(
        d, 4, npartitions=2, overlap_factor=2, metric=metric,
        centroids=vecs[:2], builder_centroids=vecs[:3]).collect()))
    sql = G.cagra_ace_sql(
        "SELECT nid AS id, dv FROM ds_pd",
        "SELECT nid AS part, dv AS cv FROM ds_pd WHERE nid < 2",
        "SELECT nid AS label, dv AS cv FROM ds_pd WHERE nid < 3",
        4, npartitions=2, overlap_factor=2, metric=metric)
    con = _duck(vecs, qvecs)
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want
    assert got


def test_pq_metric_rejects_nondecomposable(spark):
    """Metrics outside the reference's IVF-PQ surface (sqeuclidean /
    euclidean / inner_product / cosine, ivf_pq.pyx:48-60) don't reduce
    to a subspace LUT — the r12 flip keeps that honest with a loud
    error instead of silently scoring an L2 LUT under another label."""
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search_sql
    vecs, qvecs = _data(94)
    d, _ = _spark_ds(spark, vecs, qvecs)
    with pytest.raises(ValueError, match="subspace"):
        ivf_pq_build(d, 2, 1, metric="cityblock")
    with pytest.raises(ValueError, match="subspace"):
        ivf_pq_search_sql("a", "b", "c", "d", 1, 1, 1, metric="hamming")


def test_cagra_build_nn_descent_inner_product_end_to_end(spark):
    """cagra_build(build_algo='nn_descent', metric='inner_product') —
    the reference's supported combination (cagra.pyx:250) — runs end to
    end and returns a max-close-ordered graph (rank 1 holds the LARGEST
    distance per src)."""
    vecs, _ = _data(41)
    d, _ = _spark_ds(spark, vecs, vecs[:NQ])
    g = G.cagra_build(d, 4, build_algo="nn_descent",
                      metric="inner_product", max_iterations=2)
    rows = g.collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append((r["rank"], r["distance"]))
    for s, pairs in by_src.items():
        ranked = [dist for _, dist in sorted(pairs)]
        assert ranked == sorted(ranked, reverse=True), s
