"""IVF-RaBitQ: inverted lists + multi-bit RaBitQ residual codes.

Reference: ``cpp/include/cuvs/neighbors/ivf_rabitq.hpp:38-54``
(``n_lists=1024``, ``bits_per_dim=3`` in [1..9], ``kmeans_n_iters``,
``max_train_points_per_cluster``) and ``:104`` (``n_probes=20``,
``search_mode``); impl ``cpp/src/neighbors/ivf_rabitq/``. RaBitQ is the
extended-RaBitQ estimator (Gao & Long, arXiv:2405.12497): per vector
the *residual* r = x - c is normalized and each dimension is snapped to
an odd-grid point u_j in (-1, 1) with B bits; the distance estimate is

    d(q, x)^2 ~= |r|^2 + |q-c|^2 - 2 |r| |q-c| * cos(o, q_hat)/cos(o, r_hat)

where o is the normalized quantized direction. Everything is a
closed-form fold over the code/residual arrays, so unlike IVF-PQ's
trained codebooks, the whole build+search is exactly reproducible in
SQL — the gate checks it bit-for-bit against DuckDB.

Simplifications vs the GPU implementation, by design:
* no random rotation matrix (the reference rotates to spread energy
  across dims; a fixed rotation changes no semantics and identity keeps
  the oracle exact — a seeded rotation can be layered as a
  preprocessing projection);
* the query stays full-precision (the reference's ``search_mode``
  LUT16/QUANT4/... quantize the query for SIMD — a physical detail).

Scale notes (100 TB): codes are ``array<int>`` per row (B*dim bits of
information; at scale you'd pack to BinaryType — kept SQL-operable
here); the codes table partitions by ``list_id`` so probing prunes
partitions exactly like IVF-Flat; per-row scalars (n2, vn2, ipr) are
built once, and search touches only probed lists with a broadcast
centroid/probe table — no shuffle of the codes table at query time.
``score_method="blas"`` runs the same estimator inside the one-pass
scan shared with the IVF family (``ivf_flat._probe_scan``): the codes
and the per-row scalars ride as one payload array, each probed list
computes its queries' ``qres``/``qn2`` (bit-identical to the SQL
values, :func:`_query_residuals`) and scores them with one GEMM.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuvs_spark.cluster.kmeans import coarse_sorted_sql, kmeans_fit
from cuvs_spark.functions.distance import (
    distance_sql_duckdb,
    distance_sql_spark,
)
from cuvs_spark.operators.ivf_flat import (_extended_table, _label_rows,
                                           _list_centre, _probe_scan,
                                           _query_matrix)
from cuvs_spark.operators.select_k import select_k

__all__ = [
    "IVFRabitQIndex",
    "ivf_rabitq_build",
    "ivf_rabitq_extend",
    "ivf_rabitq_search",
    "ivf_rabitq_search_sql",
]


# --- engine-shared expression text -----------------------------------------
# Spark and DuckDB render the same per-element terms with their own
# zip/fold spellings (left-to-right folds seeded with 0.0 on both) —
# identical IEEE-754 double results, same convention as
# functions/distance.py.

def _fold(engine: str, a: str, b: str, term: str) -> str:
    if engine == "spark":
        t = term.format(x="CAST(x AS DOUBLE)", y="CAST(y AS DOUBLE)")
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> {t}), "
                f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    t = term.format(x="CAST(p[1] AS DOUBLE)", y="CAST(p[2] AS DOUBLE)")
    return (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(list_zip({a}, {b}), p -> {t})), "
            f"(acc, v) -> acc + v)")


def _res(engine: str, v: str, c: str) -> str:
    if engine == "spark":
        return (f"zip_with({v}, {c}, (x0, y0) -> "
                f"CAST(x0 AS DOUBLE) - CAST(y0 AS DOUBLE))")
    return (f"list_transform(list_zip({v}, {c}), rp -> "
            f"CAST(rp[1] AS DOUBLE) - CAST(rp[2] AS DOUBLE))")


def _codes(engine: str, res: str, n2: str, bits: int) -> str:
    """Per-dim odd-grid code: clamp(floor(((r_hat+1)*2^B - 1)/2 + .5))."""
    g = float(1 << bits)
    hi = float((1 << bits) - 1)
    rhat = (f"(CASE WHEN {n2} = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) "
            f"ELSE {{e}} / sqrt({n2}) END)")
    code = (f"CAST(least(greatest(floor((({rhat} + 1.0) * {g!r} - 1.0) "
            f"/ 2.0 + 0.5), 0.0), {hi!r}) AS INT)")
    if engine == "spark":
        return f"transform({res}, r0 -> {code.format(e='r0')})"
    return f"list_transform({res}, r0 -> {code.format(e='r0')})"


def _decode(engine: str, codes: str, bits: int) -> str:
    """Grid value per code: (2*code + 1 - 2^B) / 2^B — never zero."""
    g = float(1 << bits)
    val = f"CAST(2 * c0 + 1 - {g!r} AS DOUBLE) / {g!r}"
    if engine == "spark":
        return f"transform({codes}, c0 -> {val})"
    return f"list_transform({codes}, c0 -> {val})"


def _est(n2: str, qn2: str, vn2: str, ipr: str, ipq: str) -> str:
    """The RaBitQ distance estimate (engine-neutral arithmetic)."""
    return (
        f"({n2} + {qn2}) - (CASE WHEN {ipr} = CAST(0 AS DOUBLE) "
        f"OR {n2} = CAST(0 AS DOUBLE) OR {qn2} = CAST(0 AS DOUBLE) "
        f"THEN CAST(0 AS DOUBLE) "
        f"ELSE 2.0 * sqrt({n2}) * sqrt({qn2}) * "
        f"(({ipq} / (sqrt({vn2}) * sqrt({qn2}))) / "
        f"({ipr} / (sqrt({vn2}) * sqrt({n2})))) END)")


_DOT = "{x} * {y}"


def _query_residuals(Q: np.ndarray, c: np.ndarray):
    """``(Q − c, ‖Q − c‖²)`` for a float64 query block and one
    float32-narrowed centre — bit-identical to the search's SQL
    ``qres`` (:func:`_res`) and ``qn2`` (the sqeuclidean fold): the
    squared norm folds ``(x − y)²`` left to right, one dimension at a
    time, from 0.0, as ``kmeans.coarse_probes`` does."""
    R = Q - c[None, :]
    n2 = np.zeros(len(Q))
    for j in range(R.shape[1]):
        n2 += R[:, j] * R[:, j]
    return R, n2


@dataclass
class IVFRabitQIndex:
    centroids: np.ndarray   # (n_lists, dim)
    codes: DataFrame        # (id, list_id, codes array<int>, n2, vn2, ipr)
    bits_per_dim: int


def ivf_rabitq_build(dataset: DataFrame, n_lists: int = 32, *,
                     bits_per_dim: int = 3, kmeans_n_iters: int = 10,
                     seed: int = 42, id_col: str = "id",
                     vec_col: str = "vec",
                     centroids: np.ndarray | None = None) -> IVFRabitQIndex:
    """Assign to lists, quantize residual directions to ``bits_per_dim``
    odd-grid codes, precompute the per-row estimator scalars
    (``|r|^2``, ``|v|^2``, ``<v, r>``)."""
    if not 1 <= bits_per_dim <= 9:
        raise ValueError("bits_per_dim must be in [1, 9]")  # hpp:48
    d = dataset.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).alias("vec"))
    if centroids is None:
        model = kmeans_fit(d.sample(fraction=0.5, seed=seed), n_lists,
                           max_iter=kmeans_n_iters, seed=seed, balanced=True)
        centroids = model.centroids
    centroids = np.asarray(centroids, float)
    return IVFRabitQIndex(
        centroids=centroids, bits_per_dim=bits_per_dim,
        codes=_rabitq_encode(d, centroids, bits_per_dim, "ivf_rabitq_build"))


def _rabitq_encode(d: DataFrame, centroids: np.ndarray, B: int,
                   op: str) -> DataFrame:
    """``(id, vec)`` → ``(id, list_id long, codes, n2, vn2, ipr)``: the
    labelling pass (``ivf_flat._label_rows``), then the residual
    against the list's float32 centre, its odd-grid codes and the
    estimator scalars as closed-form projections — the encode of both
    :func:`ivf_rabitq_build` and :func:`ivf_rabitq_extend`."""
    s1 = (_label_rows(d, centroids, op)
          .withColumn("_cent", _list_centre(centroids))
          .select("id", F.col("list_id").cast("long").alias("list_id"),
                  F.expr(_res("spark", "vec", "_cent")).alias("res"),
                  F.expr(distance_sql_spark("sqeuclidean", "vec", "_cent"))
                  .alias("n2")))
    s3 = (s1.withColumn("codes", F.expr(_codes("spark", "res", "n2", B)))
          .withColumn("v", F.expr(_decode("spark", "codes", B))))
    return s3.select(
        "id", "list_id", "codes", "n2",
        F.expr(_fold("spark", "v", "v", _DOT)).alias("vn2"),
        F.expr(_fold("spark", "v", "res", _DOT)).alias("ipr"))


def ivf_rabitq_extend(index: IVFRabitQIndex, new_rows: DataFrame, *,
                      id_col: str = "id",
                      vec_col: str = "vec") -> IVFRabitQIndex:
    """``extend`` parity (IVF family, ``ivf_flat.pyx:467`` shape):
    assign new rows to the existing centers, encode their residuals
    with the same closed-form expressions, append to the codes table.
    Centers and bit width are immutable, so an extended index scores
    identically to one built over the union. Like ``ivf_flat_extend``'s
    index, it owns its codes table: materialized once in the old
    table's partition count (``ivf_flat._extended_table``) and freed by
    Spark once no index object references it."""
    from dataclasses import replace
    d = new_rows.select(F.col(id_col).cast("long").alias("id"),
                        F.col(vec_col).alias("vec"))
    new_codes = _rabitq_encode(d, index.centroids, index.bits_per_dim,
                               "ivf_rabitq_extend")
    return replace(index, codes=_extended_table(index.codes, new_codes))


def ivf_rabitq_search(index: IVFRabitQIndex, queries: DataFrame,
                      k: int = 10, n_probes: int = 8, *,
                      qid_col: str = "qid", qvec_col: str = "vec",
                      refine_with: DataFrame | None = None,
                      refine_k0: int = 30,
                      score_method: str = "expr") -> DataFrame:
    """Probe ``n_probes`` lists, score codes with the RaBitQ estimator,
    top-k -> ``(qid, nid, distance, rank)``; optionally re-rank a
    ``refine_k0`` shortlist exactly against ``refine_with`` (raw
    vectors), as the reference pairs RaBitQ with refinement."""
    B = index.bits_per_dim
    k0 = refine_k0 if refine_with is not None else k
    q = queries.select(F.col(qid_col).cast("long").alias("qid"),
                       F.col(qvec_col).alias("_qv"))
    if score_method == "blas":
        # the one-pass scan shared with IVF-Flat: the codes and the
        # per-row estimator scalars ride as one payload array, each
        # probed list decodes once and scores its probing queries with
        # ONE GEMM (ipq = QR @ V.T) and a local top-k
        from cuvs_spark.operators.select_k import knn_merge_parts
        C32 = np.asarray(index.centroids, np.float32).astype(np.float64)
        dim = C32.shape[1]
        qids, Q = _query_matrix(q, dim, "ivf_rabitq_search")
        g = float(1 << B)
        table = index.codes.select(
            "id", "list_id",
            F.concat(F.col("codes").cast("array<double>"),
                     F.array("n2", "vn2", "ipr")).alias("_p"))

        def score(C32, lid, P, Q):
            V = (2.0 * P[:, :dim] + 1.0 - g) / g
            n2, vn2, ipr = P[:, dim], P[:, dim + 1], P[:, dim + 2]
            QR, qn2 = _query_residuals(Q, C32[lid])
            IPQ = QR @ V.T                      # (p, m)
            with np.errstate(divide="ignore", invalid="ignore"):
                T = (IPQ / (np.sqrt(vn2)[None, :]
                            * np.sqrt(qn2)[:, None])) / \
                    (ipr / (np.sqrt(vn2) * np.sqrt(n2)))[None, :]
            bad = ((ipr == 0) | (n2 == 0))[None, :] | (qn2 == 0)[:, None]
            adj = np.where(bad, 0.0,
                           2.0 * np.sqrt(n2)[None, :]
                           * np.sqrt(qn2)[:, None] * T)
            return n2[None, :] + qn2[:, None] - adj

        local = _probe_scan(table, "_p", index.centroids, qids, Q, n_probes,
                            k0, True, score, C32)
        short = knn_merge_parts(local, k0)
    else:
        from cuvs_spark.plans.layout import spread_narrow
        q = spread_narrow(q, "qid")
        # r14: map-only literal coarse stage; the probed center rides
        # along so qres/qn2 need no centroid join. r15: the query
        # vector rides along too — qside is a pure projection, no
        # probes ⋈ q join-back (same rows, same values by construction).
        cs = coarse_sorted_sql("_qv", index.centroids)
        probes_cv = (q.select(
            "qid", "_qv",
            F.explode(F.expr(f"slice({cs}, 1, {n_probes})")).alias("_s"))
            .select("qid", F.col("_s.l").cast("long").alias("list_id"),
                    F.col("_s.cv").alias("_cent"), "_qv"))
        qside = probes_cv.select(
            "qid", "list_id",
            F.expr(_res("spark", "_qv", "_cent")).alias("qres"),
            F.expr(distance_sql_spark("sqeuclidean", "_qv",
                                      "_cent")).alias("qn2"))
        joined = index.codes.join(F.broadcast(qside), "list_id")
        scored = (joined
                  .withColumn("v", F.expr(_decode("spark", "codes", B)))
                  .withColumn("ipq",
                              F.expr(_fold("spark", "v", "qres", _DOT)))
                  .select("qid", F.col("id").alias("nid"),
                          F.expr(_est("n2", "qn2", "vn2", "ipr", "ipq"))
                          .alias("distance")))
        short = select_k(scored, "qid", "distance", k0, tie_cols=["nid"])
    if refine_with is None:
        return short
    from cuvs_spark.operators.pairwise import refine as exact_refine
    cand = short.select("qid", F.col("nid").alias("id"))
    return exact_refine(refine_with, queries, cand, k, "sqeuclidean",
                        qid_col=qid_col, qvec_col=qvec_col)


def ivf_rabitq_search_sql(dataset_sql: str, queries_sql: str,
                          cent_sql: str, k: int, n_probes: int,
                          bits_per_dim: int = 3) -> str:
    """DuckDB oracle (fixed centroids): same staged pipeline, same
    folds. ``dataset_sql`` yields ``(id, dv)``; ``queries_sql``
    ``(qid, qv)``; ``cent_sql`` ``(label, cv)``."""
    B = bits_per_dim
    adist = distance_sql_duckdb("sqeuclidean", "d.dv", "c.cv")
    pdist = distance_sql_duckdb("sqeuclidean", "q.qv", "c.cv")
    return f"""
WITH d AS ({dataset_sql}), q AS ({queries_sql}), c0 AS ({cent_sql}),
c AS (SELECT label AS list_id, cv FROM c0),
asg AS (
  SELECT id, list_id FROM (
    SELECT d.id, c.list_id,
           row_number() OVER (PARTITION BY d.id ORDER BY {adist} ASC, c.list_id ASC) rn
    FROM d CROSS JOIN c) WHERE rn = 1),
s1 AS (
  SELECT d.id AS id, a.list_id AS list_id,
         {_res('duck', 'd.dv', 'c.cv')} AS res,
         {distance_sql_duckdb('sqeuclidean', 'd.dv', 'c.cv')} AS n2
  FROM d JOIN asg a ON d.id = a.id JOIN c ON c.list_id = a.list_id),
s2 AS (
  SELECT id, list_id, res, n2,
         {_codes('duck', 'res', 'n2', B)} AS codes FROM s1),
s3 AS (
  SELECT id, list_id, res, n2, codes,
         {_decode('duck', 'codes', B)} AS v FROM s2),
enc AS (
  SELECT id, list_id, n2,
         {_fold('duck', 'v', 'v', _DOT)} AS vn2,
         {_fold('duck', 'v', 'res', _DOT)} AS ipr,
         codes
  FROM s3),
probes AS (
  SELECT qid, list_id FROM (
    SELECT q.qid, c.list_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY {pdist} ASC, c.list_id ASC) rn
    FROM q CROSS JOIN c) WHERE rn <= {n_probes}),
qs AS (
  SELECT p.qid AS qid, p.list_id AS list_id,
         {_res('duck', 'q.qv', 'c.cv')} AS qres,
         {distance_sql_duckdb('sqeuclidean', 'q.qv', 'c.cv')} AS qn2
  FROM probes p JOIN q ON q.qid = p.qid JOIN c ON c.list_id = p.list_id),
scored AS (
  SELECT qs.qid AS qid, e.id AS nid,
         {_est('e.n2', 'qs.qn2', 'e.vn2', 'e.ipr',
               _fold('duck', _decode('duck', 'e.codes', B), 'qs.qres', _DOT))}
         AS distance
  FROM enc e JOIN qs ON qs.list_id = e.list_id),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance ASC, nid ASC) rank
  FROM scored)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= {k}
"""
