"""ScaNN: SOAR-partitioned tree + residual product quantization.

Reference: ``cpp/include/cuvs/neighbors/scann.hpp:40-70`` (build params —
``n_leaves=1000``, ``soar_lambda=1``, ``pq_dim=8``, ``pq_bits``,
``reordering_bf16``) and ``cpp/src/neighbors/scann/detail/scann_soar.cuh:
20-148`` (``compute_soar_labels``). The reference is build/serialize-only
(the search side is ScaNN CPU serving); here the same partitioned layout
is also searchable so the whole lifecycle stays in one engine.

**SOAR spilling** (Theorem 3.1 of arXiv:2404.00774, as implemented in
``scann_soar.cuh``): after the primary k-means assignment, every vector
gets a *second* leaf minimizing

    score(x, c') = lambda * <r_hat, x - c'>^2  +  ||x - c'||^2

where ``r = x - c_primary`` and ``r_hat = r / ||r||`` (zero residual ->
the projection term vanishes, matching ``row_normalize``'s zero
threshold). The argmin runs over *all* centers, as the reference's
``raft::matrix::argmin`` does. Both terms are closed-form folds over the
vector pair, so the whole build is a DataFrame plan with an exact DuckDB
oracle — no approximation in the gate.

**Search** (two tiers, mirroring ScaNN's score-ahead-of-reorder design):

* ``method="reorder"`` — probe ``n_probes`` leaves per query, gather the
  spilled assignment table (each id sits in <= 2 leaves), dedupe, score
  raw vectors exactly (the reference's ``reordering_bf16`` tier with
  full precision). Exact oracle. ``score_method="blas"`` runs the same
  tier through the one-pass scan of the IVF family
  (``ivf_flat._probe_scan``): driver-side probes, the query batch
  broadcast per leaf, one GEMM tile + local top-k per probed leaf of
  the ``(list_id, id, vec)`` relation, then a per-(query, id) minimum
  collapses SOAR-spilled ids before the merge.
* ``method="pq"`` — score *residual* PQ codes through a per-(query,
  leaf) lookup-table join, dedupe to the best leaf per (query, id).
  Deterministic subspace-ordered fold -> exact oracle too.

Scale notes (100 TB): centers/probes/LUTs are broadcast joins; the codes
table is partitioned by ``list_id`` so probing prunes partitions exactly
like IVF; spilling doubles the assignment table, not the vector data.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuvs_spark.cluster.kmeans import (assign, centroid_literal_sql,
                                       coarse_sorted_sql, kmeans_fit)
from cuvs_spark.functions.distance import (
    distance_sql_duckdb,
    distance_sql_spark,
    is_min_close,
)
from cuvs_spark.operators.select_k import select_k
from cuvs_spark.preprocessing.pq import PQCodebook, _subvecs

__all__ = [
    "ScannIndex",
    "scann_build",
    "scann_search",
    "scann_search_pq_sql",
    "scann_search_sql",
    "soar_labels",
    "soar_labels_sql",
]


# residual array expressions (inner lambda vars renamed so they can nest
# inside the distance templates' x/y (Spark) and p (DuckDB) lambdas)
def _res_spark(v: str, c: str) -> str:
    return (f"zip_with({v}, {c}, (x0, y0) -> "
            f"CAST(x0 AS DOUBLE) - CAST(y0 AS DOUBLE))")


def _res_duck(v: str, c: str) -> str:
    return (f"list_transform(list_zip({v}, {c}), rp -> "
            f"CAST(rp[1] AS DOUBLE) - CAST(rp[2] AS DOUBLE))")


def _soar_score_spark(v: str, cp: str, cc: str, lam: float) -> str:
    """lambda * <r_hat, x - c'>^2 + ||x - c'||^2 (Spark SQL text)."""
    rn2 = distance_sql_spark("sqeuclidean", v, cp)
    ip = distance_sql_spark("inner_product", _res_spark(v, cp),
                            _res_spark(v, cc))
    d2 = distance_sql_spark("sqeuclidean", v, cc)
    t = f"(({ip}) / sqrt({rn2}))"
    return (f"CASE WHEN {rn2} = CAST(0 AS DOUBLE) THEN {d2} "
            f"ELSE CAST({lam!r} AS DOUBLE) * {t} * {t} + {d2} END")


def _soar_score_duck(v: str, cp: str, cc: str, lam: float) -> str:
    rn2 = distance_sql_duckdb("sqeuclidean", v, cp)
    ip = distance_sql_duckdb("inner_product", _res_duck(v, cp),
                             _res_duck(v, cc))
    d2 = distance_sql_duckdb("sqeuclidean", v, cc)
    t = f"(({ip}) / sqrt({rn2}))"
    return (f"CASE WHEN {rn2} = CAST(0 AS DOUBLE) THEN {d2} "
            f"ELSE CAST({lam!r} AS DOUBLE) * {t} * {t} + {d2} END")


def soar_labels(dataset: DataFrame, centroids: np.ndarray,
                soar_lambda: float = 1.0, *, id_col: str = "id",
                vec_col: str = "vec", method: str = "expr") -> DataFrame:
    """``compute_soar_labels`` (``scann_soar.cuh:37-147``) →
    ``(id, label, soar_label)``.

    ``method="blas"`` evaluates both argmins as batched GEMMs in
    ``mapInPandas`` (broadcast centroid matrix, no candidate relation
    materialized) — the 100 TB shape; ``"expr"`` is the oracle-exact
    declarative plan."""
    spark = dataset.sparkSession
    d = dataset.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).alias("vec"))
    if method == "blas":
        import pandas as pd
        C = np.asarray(centroids, np.float64)
        cn = (C * C).sum(1)
        lam = float(soar_lambda)

        def score_batches(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
                xc = X @ C.T
                D2 = (X * X).sum(1)[:, None] + cn[None, :] - 2.0 * xc
                prim = D2.argmin(1)
                R = X - C[prim]                      # residuals
                rn = np.linalg.norm(R, axis=1, keepdims=True)
                Rh = np.divide(R, rn, out=np.zeros_like(R), where=rn > 0)
                # <r_hat, x - c'> = r_hat.x - r_hat.c'
                T = (Rh * X).sum(1)[:, None] - Rh @ C.T
                S = np.where(rn > 0, lam * T * T + D2, D2)
                yield pd.DataFrame({"id": pdf["id"],
                                    "label": prim.astype(np.int64),
                                    "soar_label":
                                        S.argmin(1).astype(np.int64)})

        return d.mapInPandas(score_batches,
                             "id long, label long, soar_label long")
    # r14: both stages as map-only literal folds (guide §2.4) — the
    # primary label via the best-first centroid sort, the SOAR label
    # via min(struct(score, l)) folded over the same literal; the old
    # plan (assign aggregate + join-back + two broadcast joins + a
    # second SortAggregate) collapses to one Project
    prim_b = F.expr(f"element_at({coarse_sorted_sql('vec', centroids)}, 1)")
    lit = centroid_literal_sql(centroids)
    score_t = _soar_score_spark("vec", "_b.cv", "c.cv", soar_lambda)
    soar = (f"element_at(array_sort(transform({lit}, c -> named_struct("
            f"'s', {score_t}, 'l', c.l))), 1).l")
    return (d.withColumn("_b", prim_b)
            .select("id", F.col("_b.l").cast("long").alias("label"),
                    F.expr(soar).cast("long").alias("soar_label")))


def soar_labels_sql(dataset_sql: str, cent_sql: str,
                    soar_lambda: float = 1.0) -> str:
    """DuckDB oracle for :func:`soar_labels`; subqueries yield
    ``(id, dv)`` / ``(label, cv)``."""
    adist = distance_sql_duckdb("sqeuclidean", "d.dv", "c.cv")
    score = _soar_score_duck("p.dv", "p.cp", "c2.cv", soar_lambda)
    return f"""
WITH d AS ({dataset_sql}), c AS ({cent_sql}),
asg AS (
  SELECT id, label FROM (
    SELECT d.id, c.label,
           row_number() OVER (PARTITION BY d.id ORDER BY {adist} ASC, c.label ASC) rn
    FROM d CROSS JOIN c) WHERE rn = 1),
p AS (
  SELECT d.id AS id, d.dv AS dv, a.label AS label, c.cv AS cp
  FROM d JOIN asg a ON d.id = a.id JOIN c ON c.label = a.label),
scored AS (
  SELECT p.id AS id, p.label AS label, c2.label AS soar_label,
         row_number() OVER (PARTITION BY p.id
                            ORDER BY {score} ASC, c2.label ASC) rn
  FROM p CROSS JOIN c c2)
SELECT id, CAST(label AS BIGINT) AS label,
       CAST(soar_label AS BIGINT) AS soar_label
FROM scored WHERE rn = 1
"""


@dataclass
class ScannIndex:
    centroids: np.ndarray          # (n_leaves, dim)
    assignments: DataFrame         # (id, list_id, is_soar) — id in ≤2 leaves
    vectors: DataFrame             # (id, vec) raw reordering tier
    codes: DataFrame | None        # (id, list_id, codes) residual PQ codes
    codebook_df: DataFrame | None  # (sub, code, centroid)
    pq_dim: int | None
    soar_lambda: float
    metric: str = "sqeuclidean"


def scann_build(dataset: DataFrame, n_leaves: int = 32, *,
                soar_lambda: float = 1.0, pq_dim: int | None = None,
                pq_bits: int = 4, metric: str = "sqeuclidean",
                kmeans_n_iters: int = 10, seed: int = 42,
                id_col: str = "id", vec_col: str = "vec",
                centroids: np.ndarray | None = None,
                codebook: DataFrame | PQCodebook | None = None,
                method: str = "expr") -> ScannIndex:
    """Partition (k-means) + SOAR spill + optional residual PQ.

    ``scann.hpp:40-70``: ``n_leaves``, ``soar_lambda``, ``pq_dim``,
    ``pq_bits``; ``kmeans_n_iters=24`` default in the reference. The
    residual codebook is shared across leaves (subspace layout) and
    trained on primary-assignment residuals.
    """
    spark = dataset.sparkSession
    d = dataset.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).alias("vec"))
    if centroids is None:
        model = kmeans_fit(d.sample(fraction=0.5, seed=seed), n_leaves,
                           max_iter=kmeans_n_iters, seed=seed, balanced=True)
        centroids = model.centroids
    centroids = np.asarray(centroids, float)
    # materialize: the spilled assignment feeds 2 union branches and (with
    # PQ) ~pq_dim*kmeans_n_iters training jobs — never recompute the
    # cross-join SOAR scoring per downstream job
    lab = soar_labels(d, centroids, soar_lambda, method=method).cache()
    asg = (lab.select("id", F.col("label").alias("list_id"),
                      F.lit(False).alias("is_soar"))
           .unionByName(lab.select("id", F.col("soar_label").alias("list_id"),
                                   F.lit(True).alias("is_soar"))))
    codes = cb_df = None
    if pq_dim is not None:
        cent = spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
            "list_id long, cv array<float>")
        resid = (asg.join(d, "id").join(F.broadcast(cent), "list_id")
                 .select("id", "list_id", "is_soar",
                         F.expr(_res_spark("vec", "cv")).alias("res"))
                 .cache())
        if codebook is None:
            from cuvs_spark.preprocessing.pq import pq_build
            codebook = pq_build(
                resid.filter(~F.col("is_soar"))
                .select("id", F.col("res").alias("vec")),
                pq_dim, pq_bits, kmeans_n_iters=kmeans_n_iters, seed=seed)
        cb_df = (codebook.to_df(spark) if isinstance(codebook, PQCodebook)
                 else codebook)
        # packed numeric (id, leaf) key — _subvecs needs a long id; a
        # vector sits in ≤2 leaves so the pair must stay distinct.  The
        # multiplier must exceed every list_id, so derive it from the
        # actual leaf count; negative ids would alias and are rejected.
        mult = int(max(len(centroids), 1))
        pack = (F.when(F.col("id") < 0,
                       F.raise_error("scann: ids must be non-negative"))
                .otherwise(F.col("id")) * F.lit(mult) + F.col("list_id"))
        sv = _subvecs(resid.select(
            pack.alias("_key"),
            F.col("res").alias("vec")), pq_dim, id_col="_key",
            vec_col="vec").withColumnRenamed("id", "_key")
        edist = F.expr(distance_sql_spark("sqeuclidean", "subvec", "centroid"))
        best = (sv.join(F.broadcast(cb_df), "sub")
                .select("_key", "sub",
                        F.struct(edist.alias("d"),
                                 F.col("code").alias("c")).alias("_s"))
                .groupBy("_key", "sub").agg(F.min("_s").alias("_b"))
                .select("_key", "sub", F.col("_b.c").alias("code")))
        keyed = resid.select(pack.alias("_key"), "id", "list_id").distinct()
        codes = (best.groupBy("_key")
                 .agg(F.array_sort(F.collect_list(F.struct("sub", "code")))
                      .alias("_sc"))
                 .select("_key",
                         F.expr("transform(_sc, x -> x.code)").alias("codes"))
                 .join(keyed, "_key")
                 .select("id", "list_id", "codes"))
    return ScannIndex(centroids=centroids, assignments=asg, vectors=d,
                      codes=codes, codebook_df=cb_df, pq_dim=pq_dim,
                      soar_lambda=soar_lambda, metric=metric)


def _probes(index: ScannIndex, q: DataFrame, n_probes: int) -> DataFrame:
    # r15: the query vector rides along through the probe explode so
    # the pq residual stage needs no
    # probes ⋈ q join-back; consumers that only want (qid, list_id)
    # prune the column away at no cost.
    cs = coarse_sorted_sql("_qv", index.centroids)
    return (q.select(
        "qid", "_qv",
        F.explode(F.expr(f"slice({cs}, 1, {n_probes})")).alias("_s"))
        .select("qid", F.col("_s.l").cast("long").alias("list_id"), "_qv"))


def scann_search(index: ScannIndex, queries: DataFrame, k: int = 10,
                 n_probes: int = 8, *, qid_col: str = "qid",
                 qvec_col: str = "vec", method: str = "reorder",
                 score_method: str = "expr") -> DataFrame:
    """Probe leaves over the spilled assignment, score, top-k →
    ``(qid, nid, distance, rank)``. ``score_method="blas"`` scores the
    reorder tier with the one-pass scan shared with the IVF family
    (``ivf_flat._probe_scan``) instead of the oracle-exact fold
    expression."""
    spark = queries.sparkSession
    minimize = is_min_close(index.metric)
    q = queries.select(F.col(qid_col).cast("long").alias("qid"),
                       F.col(qvec_col).alias("_qv"))
    if method == "reorder" and score_method == "blas":
        from cuvs_spark.operators.brute_force import _pairwise_np
        from cuvs_spark.operators.ivf_flat import _probe_scan, _query_matrix
        from cuvs_spark.operators.select_k import knn_merge_parts
        qids, Q = _query_matrix(q, index.centroids.shape[1], "scann_search")
        metric = index.metric
        # distinct (id, leaf): a vector whose SOAR leaf equals its
        # primary leaf must not occupy two local top-k slots
        lists = (index.assignments.select("id", "list_id").distinct()
                 .join(index.vectors, "id"))

        def score(_, lid, X, Q):
            return _pairwise_np(Q, X.astype(np.float64), metric)

        local = _probe_scan(lists, "vec", index.centroids, qids, Q, n_probes,
                            k, minimize, score)
        # a vector probed through both of its leaves scores identically:
        # collapse it to one row before the merge
        local = local.groupBy("qid", "nid").agg(
            F.min("distance").alias("distance"))
        return knn_merge_parts(local, k, select_min=minimize)
    from cuvs_spark.plans.layout import spread_narrow
    q = spread_narrow(q, "qid")
    probes = _probes(index, q, n_probes)
    if method == "reorder":
        cand = (index.assignments
                .join(F.broadcast(probes.select("qid", "list_id")),
                      "list_id")
                .select("qid", "id").distinct())
        fdist = F.expr(distance_sql_spark(index.metric, "_qv", "vec"))
        pairs = (cand.join(index.vectors, "id")
                 .join(F.broadcast(q), "qid")
                 .select("qid", F.col("id").alias("nid"),
                         fdist.alias("distance")))
        return select_k(pairs, "qid", "distance", k, tie_cols=["nid"],
                        select_min=minimize)
    if method != "pq":
        raise ValueError(f"unknown scann search method {method!r}")
    if index.codes is None:
        raise ValueError("index built without pq_dim — no codes to score")
    cent = spark.createDataFrame(
        [(int(i), [float(x) for x in c])
         for i, c in enumerate(index.centroids)],
        "list_id long, cv array<float>")
    # per-(query, probed-leaf) residual, split into subspaces; multiplier
    # derived from the leaf count so (qid, list_id) pairs never collide
    qmult = int(max(len(index.centroids), 1))
    qres = (probes.join(F.broadcast(cent), "list_id")
            .select((F.when(F.col("qid") < 0,
                            F.raise_error("scann: qids must be non-negative"))
                     .otherwise(F.col("qid")) * F.lit(qmult)
                     + F.col("list_id"))
                    .alias("_key"), "qid", "list_id",
                    F.expr(_res_spark("_qv", "cv")).alias("vec")))
    qsv = _subvecs(qres.select("_key", "vec"), index.pq_dim,
                   id_col="_key", vec_col="vec") \
        .withColumnRenamed("id", "_key").withColumnRenamed("subvec", "qsub")
    sdist = F.expr(distance_sql_spark("sqeuclidean", "qsub", "centroid"))
    lut = (qsv.join(F.broadcast(index.codebook_df), "sub")
           .join(qres.select("_key", "qid", "list_id"), "_key")
           .select("qid", "list_id", "sub", "code", sdist.alias("subdist")))
    probed = (index.codes.join(F.broadcast(probes), "list_id")
              .select("qid", "list_id", "id",
                      F.posexplode("codes").alias("sub", "code")))
    scored = (probed.join(F.broadcast(lut), ["qid", "list_id", "sub", "code"])
              .groupBy("qid", "list_id", F.col("id").alias("nid"))
              .agg(F.array_sort(F.collect_list(F.struct("sub", "subdist")))
                   .alias("_sd"))
              .select("qid", "nid", F.expr(
                  "aggregate(_sd, CAST(0 AS DOUBLE), (acc, x) -> acc + x.subdist)")
                  .alias("distance")))
    # a point probed through both of its leaves scores twice → keep best
    dedup = (scored.groupBy("qid", "nid")
             .agg(F.min("distance").alias("distance")))
    return select_k(dedup, "qid", "distance", k, tie_cols=["nid"])


def _spill_asg_sql(dataset_sql: str, cent_sql: str, lam: float) -> str:
    """(id, list_id) spilled assignment CTE body (primary ∪ soar)."""
    return f"""
SELECT id, label AS list_id FROM ({soar_labels_sql(dataset_sql, cent_sql, lam)})
UNION
SELECT id, soar_label AS list_id FROM ({soar_labels_sql(dataset_sql, cent_sql, lam)})
"""


def scann_search_sql(dataset_sql: str, queries_sql: str, cent_sql: str,
                     k: int, n_probes: int, soar_lambda: float = 1.0,
                     metric: str = "sqeuclidean") -> str:
    """DuckDB oracle for the reorder (exact-scoring) search path.
    ``dataset_sql`` yields ``(id, dv)``; ``queries_sql`` ``(qid, qv)``."""
    order = "ASC" if is_min_close(metric) else "DESC"
    pdist = distance_sql_duckdb("sqeuclidean", "q.qv", "c.cv")
    fdist = distance_sql_duckdb(metric, "q.qv", "d.dv")
    return f"""
WITH d AS ({dataset_sql}), q AS ({queries_sql}), c AS ({cent_sql}),
spill AS ({_spill_asg_sql(dataset_sql, cent_sql, soar_lambda)}),
probes AS (
  SELECT qid, list_id FROM (
    SELECT q.qid, c.label AS list_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY {pdist} ASC, c.label ASC) rn
    FROM q CROSS JOIN c) WHERE rn <= {n_probes}),
cand AS (
  SELECT DISTINCT p.qid, s.id
  FROM probes p JOIN spill s ON s.list_id = p.list_id),
pairs AS (
  SELECT cand.qid AS qid, d.id AS nid, {fdist} AS distance
  FROM cand JOIN d ON d.id = cand.id JOIN q ON q.qid = cand.qid),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance {order}, nid ASC) rank
  FROM pairs)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= {k}
"""


def scann_search_pq_sql(dataset_sql: str, queries_sql: str, cent_sql: str,
                        codebook_sql: str, k: int, n_probes: int,
                        pq_dim: int, soar_lambda: float = 1.0) -> str:
    """DuckDB oracle for the residual-PQ scoring path (fixed centroids +
    codebook): spill-assign → encode residuals per leaf → probe →
    residual LUT join → ordered fold → best-leaf dedupe → top-k."""
    pdist = distance_sql_duckdb("sqeuclidean", "q.qv", "c.cv")
    edist = distance_sql_duckdb("sqeuclidean", "sv.subvec", "cb.centroid")
    ldist = distance_sql_duckdb("sqeuclidean", "qs.qsub", "cb.centroid")
    w = f"(len(r.res) // {pq_dim})"
    wq = f"(len(qr.res) // {pq_dim})"
    return f"""
WITH d AS ({dataset_sql}), q AS ({queries_sql}), c AS ({cent_sql}),
cb AS ({codebook_sql}),
spill AS ({_spill_asg_sql(dataset_sql, cent_sql, soar_lambda)}),
r AS (
  SELECT s.id AS id, s.list_id AS list_id,
         {_res_duck('d.dv', 'c.cv')} AS res
  FROM spill s JOIN d ON d.id = s.id JOIN c ON c.label = s.list_id),
sv AS (
  SELECT r.id AS id, r.list_id AS list_id, s.sub AS sub,
         r.res[(s.sub * {w} + 1):((s.sub + 1) * {w})] AS subvec
  FROM r, (SELECT unnest(range({pq_dim})) AS sub) s),
enc AS (
  SELECT id, list_id, sub, code FROM (
    SELECT sv.id, sv.list_id, sv.sub, cb.code,
           row_number() OVER (PARTITION BY sv.id, sv.list_id, sv.sub
                              ORDER BY {edist} ASC, cb.code ASC) rn
    FROM sv JOIN cb ON sv.sub = cb.sub) WHERE rn = 1),
probes AS (
  SELECT qid, list_id FROM (
    SELECT q.qid, c.label AS list_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY {pdist} ASC, c.label ASC) rn
    FROM q CROSS JOIN c) WHERE rn <= {n_probes}),
qr AS (
  SELECT p.qid AS qid, p.list_id AS list_id,
         {_res_duck('q.qv', 'c.cv')} AS res
  FROM probes p JOIN q ON q.qid = p.qid JOIN c ON c.label = p.list_id),
qs AS (
  SELECT qr.qid AS qid, qr.list_id AS list_id, s.sub AS sub,
         qr.res[(s.sub * {wq} + 1):((s.sub + 1) * {wq})] AS qsub
  FROM qr, (SELECT unnest(range({pq_dim})) AS sub) s),
lut AS (
  SELECT qs.qid, qs.list_id, qs.sub, cb.code, {ldist} AS subdist
  FROM qs JOIN cb ON qs.sub = cb.sub),
probed AS (
  SELECT p.qid, e.list_id, e.id, e.sub, e.code
  FROM probes p JOIN enc e ON e.list_id = p.list_id),
scored AS (
  SELECT pr.qid AS qid, pr.list_id AS list_id, pr.id AS nid,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_sort(list(ROW(pr.sub, l.subdist))),
                          x -> x[2])), (acc, v) -> acc + v) AS distance
  FROM probed pr JOIN lut l
    ON l.qid = pr.qid AND l.list_id = pr.list_id
   AND l.sub = pr.sub AND l.code = pr.code
  GROUP BY pr.qid, pr.list_id, pr.id),
dedup AS (
  SELECT qid, nid, min(distance) AS distance
  FROM scored GROUP BY qid, nid),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance ASC, nid ASC) rank
  FROM dedup)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= {k}
"""
