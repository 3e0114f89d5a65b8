"""IVF-PQ and IVF-SQ: quantized inverted-file indexes.

Reference:
* ``python/cuvs/cuvs/neighbors/ivf_pq/ivf_pq.pyx:40-172`` (build —
  ``pq_bits=8``, ``pq_dim``, ``codebook_kind`` subspace/cluster),
  ``:673-710`` (search — ``n_probes=20``, per-query LUTs); impl
  ``cpp/src/neighbors/ivf_pq/`` (``select_clusters``
  ``ivf_pq_search.cuh:61``, ``ivfpq_search_worker`` ``:421``).
* ``python/cuvs/cuvs/neighbors/ivf_sq/ivf_sq.pyx:41-48,208,303,474``
  (IVF + fixed 8-bit residual scalar quantization).

Spark design:

* **storage** — codes tables ``(id, list_id, codes array<int>)`` (PQ)
  or ``(id, list_id, rcodes array<int>)`` (SQ int8 residual codes),
  partitioned by list_id like IVF-Flat. 64-dim float32 rows become 8
  bytes (PQ) / 64 bytes (SQ).
* **PQ build** — ``method="blas"`` (also ``transform``/``extend``) is
  the reference's batch kernel (``ivf_pq_build.cuh:79-127``) as one
  map pass: GEMM argmin, residual against the float32-narrowed
  centres, optional rotation, per-subspace argmin; no join, no
  shuffle. The codebook trains on the driver from one collect of the
  seeded raw sample through the same NumPy code (``pq.pyx:198``), and
  its float32-narrowed array serves the encode, ``codebook_df`` and
  the index. ``method="expr"`` is the oracle path.
* **PQ search** — the reference's per-query LUT is a *join*: the LUT
  relation ``(qid, sub, code, subdist)`` (n_queries × pq_dim × 2^bits
  rows — tiny, broadcast) joins the exploded probed codes on
  (sub, code); summing subdists per (qid, id) IS the LUT lookup
  accumulation, with map-side combine. The per-(qid,id) partials are
  folded in subspace order (sorted-array fold) so results are
  deterministic and oracle-exact. ``method="blas"`` (alias
  ``"broadcast"``) is the single-pass throughput path shared with
  IVF-Flat: driver-side probes, the query batch broadcast per list,
  each codes partition LUT-scores its own lists in NumPy; the codes
  table never shuffles and the codebook array is collected once per
  index.
* **SQ search** — decode is a closed-form expression
  (``center + lo + (code+128)·step``), distance runs on the decoded
  array; everything stays in whole-stage codegen.
* **directional** (since r12): IVF-SQ takes any metric (decode is
  metric-agnostic); IVF-PQ covers the reference's full metric surface
  (sqeuclidean / euclidean / inner_product / cosine,
  ``ivf_pq.pyx:48-60`` — see :func:`_pq_metric`); every local top-k
  and merge follows ``is_min_close`` on both engines, with the
  unrolled DuckDB twins flipping their folds/ORDER BY together.
* optional ``refine`` (§2.4) recovers recall exactly as the reference
  does.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuvs_spark.cluster.kmeans import (coarse_sorted_sql, gemm_argmin,
                                       kmeans_fit)
from cuvs_spark.functions.distance import distance_sql_spark
from cuvs_spark.operators.ivf_flat import vec_matrix
from cuvs_spark.operators.select_k import select_k
from cuvs_spark.preprocessing.pq import (PQCodebook, _encode_expr,
                                         _res_expr, _subvecs, _train_books,
                                         codebook_array, pq_build, pq_codes,
                                         train_sample)


# The reference's full IVF-PQ metric surface (ivf_pq.pyx:48-60):
# each reduces to a LUT sum that decomposes additively over subspaces,
# plus a per-score monotone transform. euclidean = sqrt∘sqeuclidean;
# cosine = 1 − IP over L2-NORMALIZED inputs (normalization happens at
# build/search entry, float32-narrowed identically on both engines).
_PQ_METRICS = ("sqeuclidean", "euclidean", "inner_product", "cosine")


def _pq_metric(metric: str) -> str:
    """IVF-PQ scores through a per-subspace LUT, so the index metric
    must reduce to an ADDITIVE subspace decomposition: ``sqeuclidean``
    (``||q−x̂||² = Σ_sub ||q_sub − ĉ_sub||²`` — the reference's L2
    tables, ``ivf_pq_search.cuh``), ``euclidean`` (its square root —
    monotone), ``inner_product`` (``q·x̂ = Σ_sub q_sub·ĉ_sub``; with
    residual encoding ``q·(c+r̂) = q·c + Σ_sub q_sub·r̂_sub``) and
    ``cosine`` (``1 − q̂·x̂`` over unit-normalized inputs) — exactly
    the reference's valid values (``ivf_pq.pyx:48-60``). DIRECTIONAL
    since r12 (the r11 entry guards' tracked flip, r11 verdict #2):
    every local top-k and merge follows ``is_min_close(metric)`` on
    BOTH engines. Anything else fails loudly here — use
    ivf_flat/brute_force, which take any metric. Registered aliases
    resolve to their canonical name first (l2 / l2sqrt_expanded →
    euclidean, l2_expanded → sqeuclidean, dot → inner_product) and the
    CANONICAL name is returned — callers score and rank with it."""
    from cuvs_spark.functions.distance import METRICS
    md = METRICS.get(metric)
    if md is None or md.name not in _PQ_METRICS:
        raise ValueError(
            f"ivf_pq: metric {metric!r} does not reduce to a PQ "
            f"subspace decomposition; valid: {list(_PQ_METRICS)} (or "
            "use ivf_flat/brute_force/cagra, which take any metric).")
    return md.name


def _pq_lut_kind(metric: str) -> str:
    """The per-subspace LUT term's metric: squared L2 for the
    euclidean family, subspace dot for the IP family."""
    return ("inner_product" if metric in ("inner_product", "cosine")
            else "sqeuclidean")


_RAW_FOLD = """list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_sort(list(ROW(pr.sub, l.subdist))),
                          x -> x[2])), (acc, v) -> acc + v)"""


def _pq_norm_sql(inner_sql: str, id_col: str, vec_col: str) -> str:
    """DuckDB twin of functions.vector.l2_normalize applied to a
    relation: unit-normalize ``vec_col`` with the same index-order
    square-sum fold, the same eps floor and the same float32
    narrowing, so both engines hand identical bits downstream."""
    ssq = (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
           f"list_transform({vec_col}, u -> "
           f"CAST(u AS DOUBLE) * CAST(u AS DOUBLE))), "
           f"(acc, x) -> acc + x)")
    return (f"SELECT {id_col}, list_transform({vec_col}, u -> "
            f"CAST(CAST(u AS DOUBLE) / greatest(sqrt(_ssq), "
            f"CAST(1e-12 AS DOUBLE)) AS FLOAT)) AS {vec_col} "
            f"FROM (SELECT {id_col}, {vec_col}, {ssq} AS _ssq "
            f"FROM ({inner_sql}) _n)")


def _pq_dist_sql(metric: str, fold: str) -> str:
    """Twin of :func:`_pq_dist_col`."""
    if metric == "euclidean":
        return f"sqrt({fold})"
    if metric == "cosine":
        return f"CAST(1 AS DOUBLE) - ({fold})"
    return fold


def _pq_dist_col(metric: str, col):
    """Monotone post-fold transform: euclidean takes the sqrt of the
    L2 LUT sum, cosine reports 1 − the normalized-IP sum (min-close);
    sqeuclidean/inner_product pass through. Per-entry IEEE ops on
    identically-computed doubles — sqrt is correctly rounded, so the
    twins' sqrt()/1−s agree bit-for-bit."""
    if metric == "euclidean":
        return F.sqrt(col)
    if metric == "cosine":
        return F.lit(1.0) - col
    return col


# ---------------------------------------------------------------------------
# IVF-PQ
# ---------------------------------------------------------------------------

@dataclass
class IVFPQIndex:
    centroids: np.ndarray          # (n_lists, dim)
    codebook_df: DataFrame         # (sub, code, centroid array<float>)
    codes: DataFrame               # (id, list_id, codes array<int>)
    pq_dim: int
    metric: str = "sqeuclidean"
    encode: str = "raw"            # "raw" (build_precomputed) | "residual"
    rotation: np.ndarray | None = None   # (dim, dim) orthogonal, or None
    # codebook_df as an array; filled by a build, lazily by a load
    codebook: np.ndarray | None = field(default=None, repr=False)

    @property
    def codebook_array(self) -> np.ndarray:
        """``(pq_dim, n_codes, sub_width)`` float64 codebook with the
        table's float32 values, collected at most once per index (and
        kept by ``ivf_pq_extend``): repeat searches run no codebook job."""
        if self.codebook is None:
            self.codebook = codebook_array(self.codebook_df)
        return self.codebook


def _rand_rotation(dim: int, seed: int) -> np.ndarray:
    """Seeded random orthogonal matrix (QR of a Gaussian draw) — the
    ``force_random_rotation`` analog (``ivf_pq.pyx:40-172``)."""
    rng = np.random.default_rng(seed)
    Q, R = np.linalg.qr(rng.standard_normal((dim, dim)))
    return Q * np.sign(np.diag(R))


def ivf_pq_build(dataset: DataFrame, n_lists: int = 32, pq_dim: int = 8,
                 pq_bits: int = 4, *, metric: str = "sqeuclidean",
                 kmeans_n_iters: int = 10, seed: int = 42,
                 id_col: str = "id", vec_col: str = "vec",
                 centroids: np.ndarray | None = None,
                 codebook: DataFrame | PQCodebook | None = None,
                 encode: str = "raw",
                 force_random_rotation: bool = False,
                 method: str = "expr") -> IVFPQIndex:
    """Coarse quantizer + per-subspace codebooks + codes table.

    ``codebook_kind='subspace'`` layout: one codebook per subspace
    shared across lists (the reference's default).

    ``encode="raw"`` stores each raw subvector's nearest code —
    ``build_precomputed`` semantics (``ivf_pq.pyx:543``) and the
    oracle-exact path. ``encode="residual"`` is the reference's default
    fidelity (``ivf_pq_build.cuh:79-127 select_residuals``): codes
    quantize ``x - center[list_id]``, optionally pre-rotated by a
    seeded orthogonal matrix (``force_random_rotation``), which is what
    keeps recall up at realistic ``n_lists`` — the residual energy is
    much smaller than the raw vector's. Rotation runs only on the
    ``method="blas"`` path (a matmul has no sane SQL form)."""
    metric = _pq_metric(metric)
    spark = dataset.sparkSession
    d = dataset.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).alias("vec"))
    if metric == "cosine":
        # cosine = 1 − IP over unit vectors: normalize ONCE at entry
        # (float32-narrowed, the twins mirror it) so training,
        # assignment and encoding all run in the normalized space;
        # caller-fixed centroids are used as given.
        from cuvs_spark.functions.vector import l2_normalize
        d = d.withColumn("vec", l2_normalize("vec"))
    if centroids is None:
        model = kmeans_fit(d.sample(fraction=0.5, seed=seed), n_lists,
                           max_iter=kmeans_n_iters, seed=seed, balanced=True)
        centroids = model.centroids
    centroids = np.asarray(centroids, float)
    rotation = None
    if force_random_rotation:
        if encode != "residual" or method != "blas":
            raise ValueError("force_random_rotation requires "
                             "encode='residual', method='blas'")
        rotation = _rand_rotation(centroids.shape[1], seed)
    if method != "blas":
        enc_in = _pq_enc_input(d, centroids, encode)
        if codebook is None:
            codebook = pq_build(enc_in, pq_dim, pq_bits,
                                kmeans_n_iters=kmeans_n_iters, seed=seed)
    elif codebook is None:
        ids, vecs = train_sample(d, seed, "PQ codebook")
        _, R = _pq_lists(vec_matrix(ids, vecs, centroids.shape[1],
                                    "ivf_pq_build"),
                         centroids, encode, rotation)
        codebook = PQCodebook(_train_books(R, pq_dim, 1 << pq_bits,
                                           np.random.default_rng(seed),
                                           kmeans_n_iters))
    cb_df = (codebook.to_df(spark) if isinstance(codebook, PQCodebook)
             else codebook)
    CB = codebook_array(codebook) if method == "blas" else None
    codes = (_pq_encode(enc_in, cb_df, pq_dim) if CB is None else
             _pq_encode_blas(d, centroids, CB, encode, rotation,
                             "ivf_pq_build"))
    return IVFPQIndex(centroids=centroids, codebook_df=cb_df, codes=codes,
                      pq_dim=pq_dim, metric=metric, encode=encode,
                      rotation=rotation, codebook=CB)


def _pq_lists(X: np.ndarray, centroids: np.ndarray, encode: str,
              rotation: np.ndarray | None):
    """Float64 rows → ``(list ids, vectors to encode)``: GEMM argmin,
    then for ``encode='residual'`` the residual against the float32-
    narrowed centres (as the expr path and the search use), rotated."""
    lab = gemm_argmin(X, centroids)
    if encode == "residual":
        X = X - centroids[lab].astype(np.float32)
        if rotation is not None:
            X = X @ rotation.T
    return lab, X


def _pq_encode_blas(d: DataFrame, centroids: np.ndarray, CB: np.ndarray,
                    encode: str, rotation: np.ndarray | None,
                    op: str) -> DataFrame:
    """One map pass ``(id, vec)`` → ``(id long, list_id int, codes
    array<int>)``, as the reference's batch kernel selects, shifts and
    encodes (``ivf_pq_build.cuh:79-127``); no join, no shuffle."""
    import pandas as pd
    dim = centroids.shape[1]
    bc = d.sparkSession.sparkContext.broadcast(
        (centroids, CB, encode, rotation))

    def encode_batches(batches):
        C, CB, encode, rotation = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(np.int64)
            X = vec_matrix(ids, pdf["vec"].to_numpy(), dim, op)
            lab, X = _pq_lists(X, C, encode, rotation)
            yield pd.DataFrame({"id": ids, "list_id": lab.astype(np.int32),
                                "codes": list(pq_codes(X, CB))})

    return d.mapInPandas(encode_batches,
                         "id long, list_id int, codes array<int>")


def _pq_enc_input(d: DataFrame, centroids: np.ndarray,
                  encode: str) -> DataFrame:
    """``(id, list_id, vec)`` rows for the expr encode: label and list
    center from one map-only literal fold (r14), then for
    ``encode='residual'`` the shift by the center."""
    best = F.expr(f"element_at({coarse_sorted_sql('vec', centroids)}, 1)")
    d_lab = d.withColumn("_b", best).select(
        "id", F.col("_b.l").cast("long").alias("list_id"),
        F.col("_b.cv").alias("_cent"), "vec")
    if encode == "residual":
        return d_lab.select("id", "list_id",
                            F.expr(_res_expr("vec", "_cent")).alias("vec"))
    return d_lab.select("id", "list_id", "vec")


def _pq_encode(enc_in: DataFrame, cb_df: DataFrame,
               pq_dim: int) -> DataFrame:
    """Expr-encode ``(id, list_id, vec)`` → ``(id, list_id, codes)``."""
    return (_encode_expr(enc_in.select("id", "vec"), cb_df, pq_dim)
            .join(enc_in.select("id", "list_id"), "id")
            .select("id", "list_id", "codes"))


def ivf_pq_extend(index: IVFPQIndex, new_rows: DataFrame, *,
                  id_col: str = "id", vec_col: str = "vec",
                  method: str = "expr") -> IVFPQIndex:
    """``extend`` parity for IVF-PQ (``ivf_pq.pyx:467`` family shape,
    like ``ivf_flat.pyx:467``): assign new rows to the EXISTING coarse
    centers, encode with the EXISTING codebook (centers, codebook,
    encode mode and rotation are immutable), append to the codes table.
    An extended index therefore scores identically to one built over
    the union with the same fixed centers + codebook."""
    from dataclasses import replace
    new_codes = ivf_pq_transform(index, new_rows, id_col=id_col,
                                 vec_col=vec_col, method=method)
    return replace(index, codes=index.codes.unionByName(new_codes))


def ivf_pq_transform(index: IVFPQIndex, dataset: DataFrame, *,
                     id_col: str = "id", vec_col: str = "vec",
                     method: str = "expr") -> DataFrame:
    """Encode vectors with an EXISTING index's coarse centers and
    codebook WITHOUT extending it (``ivf_pq.pyx:987 transform``:
    returns labels + codes) → ``(id, list_id, codes array<int>)``.
    ``method="blas"`` — forced when the index has a rotation, which
    only has a BLAS form — is the build's one-pass kernel."""
    d = dataset.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).alias("vec"))
    if index.metric == "cosine":
        from cuvs_spark.functions.vector import l2_normalize
        d = d.withColumn("vec", l2_normalize("vec"))
    if method == "blas" or index.rotation is not None:
        return _pq_encode_blas(d, index.centroids, index.codebook_array,
                               index.encode, index.rotation,
                               "ivf_pq_transform")
    enc_in = _pq_enc_input(d, index.centroids, index.encode)
    return _pq_encode(enc_in, index.codebook_df, index.pq_dim)


def _pq_lut_score(Q, C, CB, cent_vec, rot, metric):
    """Per-list LUT scoring shared by the blas/broadcast paths →
    the (p, m) score matrix for queries ``Q`` against the list's code
    matrix ``C``. L2 family: the reference LUT (shift the query by the
    list center for residual encoding, then per-subspace squared
    distances; euclidean takes the sqrt after the sum). IP family:
    ``q·x̂ = Σ_sub q_sub·ĉ_sub``; for residual encoding the query is
    rotated but NOT shifted and the per-list constant ``q·c`` is
    added — ``q·(c + Rᵀr̂) = q·c + (Rq)·r̂``; cosine reports
    ``1 − q̂·x̂`` over the (already entry-normalized) inputs."""
    ip = _pq_lut_kind(metric) == "inner_product"
    S, _, w = CB.shape
    qc = None
    if ip:
        if cent_vec is not None:
            qc = Q @ cent_vec
            if rot is not None:
                Q = Q @ rot.T
        Q3 = Q[:, :S * w].reshape(len(Q), S, w)
        LUT = (Q3[:, :, None, :] * CB[None]).sum(-1)
    else:
        if cent_vec is not None:
            Q = Q - cent_vec[None, :]
            if rot is not None:
                Q = Q @ rot.T
        Q3 = Q[:, :S * w].reshape(len(Q), S, w)
        LUT = ((Q3[:, :, None, :] - CB[None]) ** 2).sum(-1)
    D = LUT[:, np.arange(S)[None, :], C].sum(-1)
    if qc is not None:
        D = D + qc[:, None]
    if metric == "euclidean":
        D = np.sqrt(D)
    elif metric == "cosine":
        D = 1.0 - D
    return D


def ivf_pq_search(index: IVFPQIndex, queries: DataFrame, k: int = 10,
                  n_probes: int = 8, *, qid_col: str = "qid",
                  qvec_col: str = "vec", method: str = "expr",
                  prefilter=None) -> DataFrame:
    """LUT-join search → ``(qid, nid, distance, rank)``; distance is
    the PQ-approximate sqeuclidean (sum of per-subspace code distances,
    folded in subspace order → deterministic).

    ``method="blas"`` is the throughput path (the reference's
    ``compute_similarity`` kernel shape): driver-side probes, then one
    map pass over the codes table (``ivf_flat._probe_scan``) — each
    partition builds each probing query's LUT once in NumPy, scores its
    own lists' code matrices by fancy-indexed LUT gather and keeps a
    local top-k before the merge. The codes table never shuffles; no
    per-(row, subspace) explosion, no LUT join relation, and the
    codebook comes from :attr:`IVFPQIndex.codebook_array`.
    ``method="broadcast"`` is an alias of ``"blas"``."""
    from cuvs_spark.functions.distance import is_min_close
    metric = _pq_metric(index.metric)
    minimize = is_min_close(metric)
    ip = _pq_lut_kind(metric) == "inner_product"
    # bitset-filter analog (filters.pyx applies to every index type):
    # boolean Column over the codes table, applied before scoring
    codes_t = (index.codes if prefilter is None
               else index.codes.filter(prefilter))
    q = queries.select(F.col(qid_col).cast("long").alias("qid"),
                       F.col(qvec_col).alias("_qv"))
    if metric == "cosine":
        from cuvs_spark.functions.vector import l2_normalize
        q = q.withColumn("_qv", l2_normalize("_qv"))
    residual = index.encode == "residual"
    if method in ("blas", "broadcast"):
        from cuvs_spark.operators.ivf_flat import _probe_scan, _query_matrix
        qids, Q = _query_matrix(q, index.centroids.shape[1], "ivf_pq_search")
        # residuals were encoded against the float32-narrowed centres
        cent = (index.centroids.astype(np.float32).astype(np.float64)
                if residual else None)

        def score(consts, lid, C, Q):
            CB, cent, rot = consts
            # L2 residual: the query shifts by the list center (then the
            # build-time rotation); IP residual: the per-list q·c
            # constant instead. Floor-width slicing inside keeps parity
            # with _subvecs when dim % pq_dim != 0.
            return _pq_lut_score(Q, C.astype(np.int64), CB,
                                 cent[lid] if cent is not None else None,
                                 rot, metric)

        return _probe_scan(codes_t, "codes", index.centroids, qids, Q,
                           n_probes, k, minimize, score,
                           (index.codebook_array, cent, index.rotation))
    from cuvs_spark.plans.layout import spread_narrow
    q = spread_narrow(q, "qid")
    # r14: coarse probes as a map-only literal slice (guide §2.4) —
    # same rows/ties as the old broadcast-join + window; the probed
    # centroid vector rides along so the qc/qres stages below need no
    # centroid join either. r15: the QUERY vector rides along too (the
    # probe set is a pure function of q), so the qside/qres/qc stages
    # need no probes ⋈ q join-back either — same rows, same values.
    cs = coarse_sorted_sql("_qv", index.centroids)
    probes_cv = (q.select(
        "qid", "_qv",
        F.explode(F.expr(f"slice({cs}, 1, {n_probes})")).alias("_s"))
        .select("qid", F.col("_s.l").alias("list_id"),
                F.col("_s.cv").alias("_cent"), "_qv"))
    probes = probes_cv.select("qid", "list_id")
    pq_dim = index.pq_dim
    # per-subspace LUT term of the DECOMPOSED kind (L2 squared
    # residuals for the euclidean family, subspace dots for the IP
    # family — _pq_metric guarantees one of them applies); the
    # euclidean sqrt / cosine 1−s transforms apply AFTER the fold
    sdist = F.expr(distance_sql_spark(_pq_lut_kind(metric),
                                      "qsub", "centroid"))
    if residual and ip:
        if index.rotation is not None:
            raise ValueError("rotation requires method='blas'")
        # IP residual: q·(c + r̂) = q·c + Σ_sub q_sub·r̂_sub — the LUT
        # is per-QUERY only (subspace dots of the UNSHIFTED query, like
        # the raw path) and the per-(query, probed list) constant q·c
        # joins in after the fold. list_id is carried through the
        # grouping (each row lives in exactly one list, so it's free).
        qsub = _subvecs(q.withColumnRenamed("qid", "id"), pq_dim,
                        id_col="id", vec_col="_qv") \
            .withColumnRenamed("id", "qid") \
            .withColumnRenamed("subvec", "qsub")
        lut = (qsub.join(F.broadcast(index.codebook_df), "sub")
               .select("qid", "sub", "code", sdist.alias("subdist")))
        qc = probes_cv.select(
            "qid", "list_id",
            F.expr(distance_sql_spark("inner_product", "_qv",
                                      "_cent")).alias("_qc"))
        probed = (codes_t.join(F.broadcast(probes), "list_id")
                  .select("qid", "list_id", "id",
                          F.posexplode("codes").alias("sub", "code")))
        folded = (probed.join(F.broadcast(lut), ["qid", "sub", "code"])
                  .groupBy("qid", "list_id", F.col("id").alias("nid"))
                  .agg(F.array_sort(
                      F.collect_list(F.struct("sub", "subdist")))
                      .alias("_sd"))
                  .select("qid", "list_id", "nid", F.expr(
                      "aggregate(_sd, CAST(0 AS DOUBLE), "
                      "(acc, x) -> acc + x.subdist)").alias("_acc")))
        scored = (folded.join(F.broadcast(qc), ["qid", "list_id"])
                  .select("qid", "nid",
                          _pq_dist_col(metric, F.col("_acc")
                                       + F.col("_qc")).alias("distance")))
        return select_k(scored, "qid", "distance", k, tie_cols=["nid"],
                        select_min=minimize)
    if residual:
        if index.rotation is not None:
            raise ValueError("rotation requires method='blas'")
        # per-(query, probed list) residual LUT — the ScaNN shape; the
        # packed key multiplier derives from n_lists (no collisions)
        n_lists = len(index.centroids)
        pack = (F.when(F.col("qid") < 0,
                       F.raise_error("ivf_pq: qids must be non-negative"))
                .otherwise(F.col("qid")) * F.lit(int(max(n_lists, 1)))
                + F.col("list_id"))
        qres = probes_cv.select(
            pack.alias("_key"), "qid", "list_id",
            F.expr(_res_expr("_qv", "_cent")).alias("res"))
        qsub = _subvecs(qres.select("_key", "res"), pq_dim,
                        id_col="_key", vec_col="res") \
            .withColumnRenamed("id", "_key") \
            .withColumnRenamed("subvec", "qsub")
        lut = (qsub.join(F.broadcast(index.codebook_df), "sub")
               .join(qres.select("_key", "qid", "list_id"), "_key")
               .select("qid", "list_id", "sub", "code",
                       sdist.alias("subdist")))
        probed = (codes_t.join(F.broadcast(probes), "list_id")
                  .select("qid", "list_id", "id",
                          F.posexplode("codes").alias("sub", "code")))
        scored = (probed.join(F.broadcast(lut),
                              ["qid", "list_id", "sub", "code"])
                  .groupBy("qid", F.col("id").alias("nid"))
                  .agg(F.array_sort(
                      F.collect_list(F.struct("sub", "subdist")))
                      .alias("_sd"))
                  .select("qid", "nid", _pq_dist_col(metric, F.expr(
                      "aggregate(_sd, CAST(0 AS DOUBLE), "
                      "(acc, x) -> acc + x.subdist)")).alias("distance")))
        return select_k(scored, "qid", "distance", k, tie_cols=["nid"],
                        select_min=minimize)
    # raw path — LUT: (qid, sub, code, subdist), n_queries × pq_dim ×
    # n_codes rows (tiny, broadcast)
    qsub = _subvecs(q.withColumnRenamed("qid", "id"), pq_dim,
                    id_col="id", vec_col="_qv") \
        .withColumnRenamed("id", "qid").withColumnRenamed("subvec", "qsub")
    lut = (qsub.join(F.broadcast(index.codebook_df), "sub")
           .select("qid", "sub", "code", sdist.alias("subdist")))
    # probed codes, exploded per subspace
    probed = (codes_t.join(F.broadcast(probes), "list_id")
              .select("qid", "id", F.posexplode("codes").alias("sub", "code")))
    # LUT lookup accumulation: deterministic subspace-ordered fold
    scored = (probed.join(F.broadcast(lut), ["qid", "sub", "code"])
              .groupBy("qid", F.col("id").alias("nid"))
              .agg(F.array_sort(F.collect_list(F.struct("sub", "subdist")))
                   .alias("_sd"))
              .select("qid", "nid", _pq_dist_col(metric, F.expr(
                  "aggregate(_sd, CAST(0 AS DOUBLE), (acc, x) -> acc + x.subdist)"))
                  .alias("distance")))
    return select_k(scored, "qid", "distance", k, tie_cols=["nid"],
                    select_min=minimize)


def ivf_pq_search_sql(dataset_sql: str, queries_sql: str, cent_sql: str,
                      codebook_sql: str, k: int, n_probes: int,
                      pq_dim: int, metric: str = "sqeuclidean") -> str:
    """DuckDB oracle for the full IVF-PQ pipeline (fixed centroids +
    codebook): assign → encode → probe → LUT-join → ordered fold.
    Directional since r12: the LUT term runs in the index metric and
    the final rank flips with ``is_min_close``; assignment, encoding
    and probe selection stay on the L2 quantizer geometry like the
    Spark side."""
    from cuvs_spark.functions.distance import distance_sql_duckdb, is_min_close
    metric = _pq_metric(metric)
    order = "ASC" if is_min_close(metric) else "DESC"
    if metric == "cosine":
        dataset_sql = _pq_norm_sql(dataset_sql, "id", "dv")
        queries_sql = _pq_norm_sql(queries_sql, "qid", "qv")
    adist = distance_sql_duckdb("sqeuclidean", "d.dv", "c.cv")
    pdist = distance_sql_duckdb("sqeuclidean", "q.qv", "c.cv")
    edist = distance_sql_duckdb("sqeuclidean", "sv.subvec", "cb.centroid")
    ldist = distance_sql_duckdb(_pq_lut_kind(metric), "qs.qsub", "cb.centroid")
    w = f"(len(d.dv) // {pq_dim})"
    wq = f"(len(q.qv) // {pq_dim})"
    return f"""
WITH d AS ({dataset_sql}), q AS ({queries_sql}), c AS ({cent_sql}),
cb AS ({codebook_sql}),
asg AS (
  SELECT id, label FROM (
    SELECT d.id, c.label,
           row_number() OVER (PARTITION BY d.id ORDER BY {adist} ASC, c.label ASC) rn
    FROM d CROSS JOIN c) WHERE rn = 1),
sv AS (
  SELECT d.id AS id, s.sub AS sub,
         d.dv[(s.sub * {w} + 1):((s.sub + 1) * {w})] AS subvec
  FROM d, (SELECT unnest(range({pq_dim})) AS sub) s),
enc AS (
  SELECT id, sub, code FROM (
    SELECT sv.id, sv.sub, cb.code,
           row_number() OVER (PARTITION BY sv.id, sv.sub
                              ORDER BY {edist} ASC, cb.code ASC) rn
    FROM sv JOIN cb ON sv.sub = cb.sub) WHERE rn = 1),
probes AS (
  SELECT qid, label FROM (
    SELECT q.qid, c.label,
           row_number() OVER (PARTITION BY q.qid ORDER BY {pdist} ASC, c.label ASC) rn
    FROM q CROSS JOIN c) WHERE rn <= {n_probes}),
qs AS (
  SELECT q.qid AS qid, s.sub AS sub,
         q.qv[(s.sub * {wq} + 1):((s.sub + 1) * {wq})] AS qsub
  FROM q, (SELECT unnest(range({pq_dim})) AS sub) s),
lut AS (
  SELECT qs.qid, qs.sub, cb.code, {ldist} AS subdist
  FROM qs JOIN cb ON qs.sub = cb.sub),
probed AS (
  SELECT p.qid, e.id, e.sub, e.code
  FROM probes p JOIN asg a ON a.label = p.label
       JOIN enc e ON e.id = a.id),
scored AS (
  SELECT pr.qid AS qid, pr.id AS nid,
         {_pq_dist_sql(metric, _RAW_FOLD)} AS distance
  FROM probed pr JOIN lut l
    ON l.qid = pr.qid AND l.sub = pr.sub AND l.code = pr.code
  GROUP BY pr.qid, pr.id),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance {order}, nid ASC) rank
  FROM scored)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= {k}
"""


def ivf_pq_residual_search_sql(dataset_sql: str, queries_sql: str,
                               cent_sql: str, codebook_sql: str, k: int,
                               n_probes: int, pq_dim: int,
                               metric: str = "sqeuclidean") -> str:
    """DuckDB oracle for the residual-encoded IVF-PQ pipeline (fixed
    centroids + codebook, no rotation): assign → encode residuals →
    probe → per-(query, list) residual LUT → ordered fold. For
    ``inner_product`` (directional since r12) the LUT comes from the
    UNSHIFTED query's subspace dots and the per-(query, probed list)
    constant ``q·c`` adds in after the fold — ``q·(c+r̂) = q·c +
    Σ_sub q_sub·r̂_sub`` — mirroring :func:`ivf_pq_search`'s IP
    residual branch; the final rank flips with ``is_min_close``."""
    from cuvs_spark.functions.distance import distance_sql_duckdb, is_min_close
    metric = _pq_metric(metric)
    ip = _pq_lut_kind(metric) == "inner_product"
    order = "ASC" if is_min_close(metric) else "DESC"
    if metric == "cosine":
        dataset_sql = _pq_norm_sql(dataset_sql, "id", "dv")
        queries_sql = _pq_norm_sql(queries_sql, "qid", "qv")
    adist = distance_sql_duckdb("sqeuclidean", "d.dv", "c.cv")
    pdist = distance_sql_duckdb("sqeuclidean", "q.qv", "c.cv")
    edist = distance_sql_duckdb("sqeuclidean", "sv.subvec", "cb.centroid")
    ldist = distance_sql_duckdb(_pq_lut_kind(metric), "qs.qsub", "cb.centroid")
    res_d = ("list_transform(list_zip(d.dv, c.cv), p -> "
             "CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))")
    res_q = ("list_transform(list_zip(q.qv, c.cv), p -> "
             "CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))")
    w = f"(len(r.res) // {pq_dim})"
    wq = f"(len(qr.res) // {pq_dim})"
    if ip:
        wq = f"(len(q.qv) // {pq_dim})"
        qcdist = distance_sql_duckdb("inner_product", "q.qv", "c.cv")
        lut_and_score = f"""qs AS (
  SELECT q.qid AS qid, s.sub AS sub,
         q.qv[(s.sub * {wq} + 1):((s.sub + 1) * {wq})] AS qsub
  FROM q, (SELECT unnest(range({pq_dim})) AS sub) s),
lut AS (
  SELECT qs.qid, qs.sub, cb.code, {ldist} AS subdist
  FROM qs JOIN cb ON qs.sub = cb.sub),
qc AS (
  SELECT p.qid AS qid, p.list_id AS list_id, {qcdist} AS qc
  FROM probes p JOIN q ON q.qid = p.qid JOIN c ON c.label = p.list_id),
probed AS (
  SELECT p.qid, e.list_id, e.id, e.sub, e.code
  FROM probes p JOIN enc e ON e.list_id = p.list_id),
folded AS (
  SELECT pr.qid AS qid, pr.list_id AS list_id, pr.id AS nid,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_sort(list(ROW(pr.sub, l.subdist))),
                          x -> x[2])), (acc, v) -> acc + v) AS acc
  FROM probed pr JOIN lut l
    ON l.qid = pr.qid AND l.sub = pr.sub AND l.code = pr.code
  GROUP BY pr.qid, pr.list_id, pr.id),
scored AS (
  SELECT f.qid AS qid, f.nid AS nid,
         {_pq_dist_sql(metric, "f.acc + qc.qc")} AS distance
  FROM folded f JOIN qc ON qc.qid = f.qid AND qc.list_id = f.list_id),"""
    else:
        lut_and_score = f"""qr AS (
  SELECT p.qid AS qid, p.list_id AS list_id, {res_q} AS res
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
  SELECT pr.qid AS qid, pr.id AS nid,
         {_pq_dist_sql(metric, _RAW_FOLD)} AS distance
  FROM probed pr JOIN lut l
    ON l.qid = pr.qid AND l.list_id = pr.list_id
   AND l.sub = pr.sub AND l.code = pr.code
  GROUP BY pr.qid, pr.id),"""
    return f"""
WITH d AS ({dataset_sql}), q AS ({queries_sql}), c AS ({cent_sql}),
cb AS ({codebook_sql}),
asg AS (
  SELECT id, label FROM (
    SELECT d.id, c.label,
           row_number() OVER (PARTITION BY d.id ORDER BY {adist} ASC, c.label ASC) rn
    FROM d CROSS JOIN c) WHERE rn = 1),
r AS (
  SELECT d.id AS id, a.label AS list_id, {res_d} AS res
  FROM d JOIN asg a ON d.id = a.id JOIN c ON c.label = a.label),
sv AS (
  SELECT r.id AS id, r.list_id AS list_id, s.sub AS sub,
         r.res[(s.sub * {w} + 1):((s.sub + 1) * {w})] AS subvec
  FROM r, (SELECT unnest(range({pq_dim})) AS sub) s),
enc AS (
  SELECT id, list_id, sub, code FROM (
    SELECT sv.id, sv.list_id, sv.sub, cb.code,
           row_number() OVER (PARTITION BY sv.id, sv.sub
                              ORDER BY {edist} ASC, cb.code ASC) rn
    FROM sv JOIN cb ON sv.sub = cb.sub) WHERE rn = 1),
probes AS (
  SELECT qid, list_id FROM (
    SELECT q.qid, c.label AS list_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY {pdist} ASC, c.label ASC) rn
    FROM q CROSS JOIN c) WHERE rn <= {n_probes}),
{lut_and_score}
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance {order}, nid ASC) rank
  FROM scored)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# IVF-SQ
# ---------------------------------------------------------------------------

@dataclass
class IVFSQIndex:
    centroids: np.ndarray          # (n_lists, dim)
    rcodes: DataFrame              # (id, list_id, rcodes array<int>)
    lo: float                      # residual quantization range
    hi: float
    metric: str = "sqeuclidean"


# residual encode/decode expressions (shared by both engines' shapes)
def _sq_enc(v: str, cent: str, lo: float, hi: float) -> str:
    return (f"zip_with({v}, {cent}, (x, c) -> CAST(floor((least(greatest("
            f"CAST(x AS DOUBLE) - CAST(c AS DOUBLE), {lo!r}), {hi!r}) - {lo!r})"
            f" / ({hi!r} - {lo!r}) * 255.0 + 0.5) - 128 AS INT))")


def _sq_dec(codes: str, cent: str, lo: float, hi: float) -> str:
    return (f"zip_with({codes}, {cent}, (q, c) -> CAST(CAST(c AS DOUBLE) + "
            f"{lo!r} + (CAST(q AS DOUBLE) + 128.0) * ({hi!r} - {lo!r}) / 255.0"
            f" AS DOUBLE))")


def ivf_sq_build(dataset: DataFrame, n_lists: int = 32, *,
                 metric: str = "sqeuclidean", kmeans_n_iters: int = 10,
                 seed: int = 42, id_col: str = "id", vec_col: str = "vec",
                 centroids: np.ndarray | None = None,
                 lo: float = -1.0, hi: float = 1.0) -> IVFSQIndex:
    """IVF + int8 residual scalar quantization (``ivf_sq.pyx:41-48``).
    Residual range [lo, hi] is fixed 8-bit as in the reference.
    Directional since r12 (the r11 entry guard's tracked flip): decode
    is metric-agnostic, so any metric the distance module knows works —
    assignment stays on the L2 quantizer geometry, search scores the
    decoded vectors in the index metric and keeps the best-k in its
    ``is_min_close`` direction. Note this is a deliberate SUPERSET of
    the reference's IVF-SQ surface: ``ivf_sq.pyx`` restricts metrics to
    sqeuclidean/euclidean/inner_product/cosine, but because this
    implementation decodes then scores, nothing ties it to those four —
    any registered metric (cityblock, canberra, …) works and is
    accepted (ADVICE r12 #1). Unknown metrics fail fast HERE rather
    than as a KeyError at search time, after the build cost is sunk."""
    from cuvs_spark.functions.distance import METRICS
    if metric not in METRICS:
        raise ValueError(f"ivf_sq_build: unknown metric {metric!r}; "
                         f"valid: {sorted(METRICS)}")
    d = dataset.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).alias("vec"))
    if centroids is None:
        model = kmeans_fit(d.sample(fraction=0.5, seed=seed), n_lists,
                           max_iter=kmeans_n_iters, seed=seed, balanced=True)
        centroids = model.centroids
    best = F.expr(f"element_at({coarse_sorted_sql('vec', centroids)}, 1)")
    rcodes = (d.withColumn("_b", best)
              .select("id", F.col("_b.l").cast("int").alias("list_id"),
                      F.expr(_sq_enc("vec", "_b.cv", lo, hi))
                      .alias("rcodes")))
    return IVFSQIndex(centroids=np.asarray(centroids, float), rcodes=rcodes,
                      lo=lo, hi=hi, metric=metric)


def ivf_sq_extend(index: IVFSQIndex, new_rows: DataFrame, *,
                  id_col: str = "id", vec_col: str = "vec") -> IVFSQIndex:
    """``extend`` parity for IVF-SQ (``ivf_flat.pyx:467`` shape):
    assign new rows to the existing centers, int8-encode their
    residuals with the index's fixed [lo, hi] range, append. Centers
    and range are immutable, so the extended index scores identically
    to one built over the union."""
    from dataclasses import replace
    d = new_rows.select(F.col(id_col).cast("long").alias("id"),
                        F.col(vec_col).alias("vec"))
    best = F.expr(
        f"element_at({coarse_sorted_sql('vec', index.centroids)}, 1)")
    new_rcodes = (d.withColumn("_b", best)
                  .select("id", F.col("_b.l").cast("int").alias("list_id"),
                          F.expr(_sq_enc("vec", "_b.cv",
                                         index.lo, index.hi))
                          .alias("rcodes")))
    return replace(index, rcodes=index.rcodes.unionByName(new_rcodes))


def ivf_sq_search(index: IVFSQIndex, queries: DataFrame, k: int = 10,
                  n_probes: int = 8, *, qid_col: str = "qid",
                  qvec_col: str = "vec", method: str = "expr") -> DataFrame:
    """Probe lists, decode residual codes, exact distance on decoded
    vectors → top-k.

    ``method="expr"`` decodes+scores in JVM expressions (oracle path);
    ``method="blas"`` cogroups each list with its probing queries —
    int8 codes decode to a NumPy block (center + lo + (q+128)·step) and
    score via one GEMM tile with local top-k (the throughput fine
    stage, same shape as ivf_flat's). Directional: every local top-k
    and the merge follow ``is_min_close(index.metric)``."""
    from cuvs_spark.functions.distance import is_min_close
    minimize = is_min_close(index.metric)
    spark = queries.sparkSession
    from cuvs_spark.plans.layout import spread_narrow
    q = spread_narrow(
        queries.select(F.col(qid_col).cast("long").alias("qid"),
                       F.col(qvec_col).alias("_qv")), "qid")
    # r14: map-only literal coarse stage; the probed list's centroid
    # rides along so the expr fine stage below decodes without a
    # centroid join. r15: the query vector rides along too — no
    # probes ⋈ q join-back in either fine stage (same rows/values).
    cs = coarse_sorted_sql("_qv", index.centroids)
    probes_cv = (q.select(
        "qid", "_qv",
        F.explode(F.expr(f"slice({cs}, 1, {n_probes})")).alias("_s"))
        .select("qid", F.col("_s.l").alias("list_id"),
                F.col("_s.cv").alias("_cent"), "_qv"))
    if method == "blas":
        import pandas as pd

        from cuvs_spark.operators.brute_force import _pairwise_np
        from cuvs_spark.operators.select_k import knn_merge_parts

        C = index.centroids
        lo, hi = index.lo, index.hi
        bc = spark.sparkContext.broadcast((C, lo, hi, index.metric, k))
        probing_q = probes_cv.select("list_id", "qid", "_qv")

        def score(key, rows: pd.DataFrame, qpdf: pd.DataFrame):
            if rows.empty or qpdf.empty:
                return pd.DataFrame(columns=["qid", "nid", "distance"])
            C, lo, hi, metric, k = bc.value
            codes = np.vstack(rows["rcodes"].to_numpy()).astype(np.float64)
            center = C[int(key[0])]
            X = center[None, :] + lo + (codes + 128.0) * (hi - lo) / 255.0
            ids = rows["id"].to_numpy().astype(np.int64)
            Q = np.vstack(qpdf["_qv"].to_numpy()).astype(np.float64)
            qids = qpdf["qid"].to_numpy().astype(np.int64)
            D = _pairwise_np(Q, X, metric)
            kk = min(k, D.shape[1])
            part = np.argpartition(D if minimize else -D,
                                   kk - 1, axis=1)[:, :kk]
            return pd.DataFrame({
                "qid": np.repeat(qids, kk),
                "nid": np.take_along_axis(
                    np.broadcast_to(ids, D.shape), part, axis=1).ravel(),
                "distance": np.take_along_axis(D, part, axis=1).ravel()})

        local = (index.rcodes.groupBy("list_id")
                 .cogroup(probing_q.groupBy("list_id"))
                 .applyInPandas(score,
                                schema="qid long, nid long, distance double"))
        return knn_merge_parts(local, k, select_min=minimize)
    dec = _sq_dec("rcodes", "_cent", index.lo, index.hi)
    fine = (index.rcodes.join(F.broadcast(probes_cv), "list_id")
            .select("qid", F.col("id").alias("nid"),
                    F.expr(dec).alias("_dec"), "_qv"))
    fdist = F.expr(distance_sql_spark(index.metric, "_qv", "_dec"))
    pairs = fine.select("qid", "nid", fdist.alias("distance"))
    return select_k(pairs, "qid", "distance", k, tie_cols=["nid"],
                    select_min=minimize)


def ivf_sq_search_sql(dataset_sql: str, queries_sql: str, cent_sql: str,
                      k: int, n_probes: int, lo: float, hi: float,
                      metric: str = "sqeuclidean") -> str:
    from cuvs_spark.functions.distance import (METRICS, distance_sql_duckdb,
                                               is_min_close)
    # mirror ivf_sq_build's fail-fast: the SQL twin is callable directly,
    # and without this an unknown metric surfaced as a bare KeyError from
    # is_min_close/distance_sql_duckdb (ADVICE r12 #2). Validation only —
    # the generated SQL for every registered metric is byte-identical to
    # the pre-check version (tests/test_round13.py pins this).
    if metric not in METRICS:
        raise ValueError(f"ivf_sq_search_sql: unknown metric {metric!r}; "
                         f"valid: {sorted(METRICS)}")
    order = "ASC" if is_min_close(metric) else "DESC"
    adist = distance_sql_duckdb("sqeuclidean", "d.dv", "c.cv")
    pdist = distance_sql_duckdb("sqeuclidean", "q.qv", "c.cv")
    enc = (f"list_transform(list_zip(d.dv, c.cv), p -> "
           f"CAST(floor((least(greatest(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE),"
           f" {lo!r}), {hi!r}) - {lo!r}) / ({hi!r} - {lo!r}) * 255.0 + 0.5)"
           f" - 128 AS INT))")
    dec = (f"list_transform(list_zip(e.rcodes, c.cv), p -> "
           f"CAST(CAST(p[2] AS DOUBLE) + {lo!r} + (CAST(p[1] AS DOUBLE) + 128.0)"
           f" * ({hi!r} - {lo!r}) / 255.0 AS DOUBLE))")
    fdist = distance_sql_duckdb(metric, "q.qv", "dec.decv")
    return f"""
WITH d AS ({dataset_sql}), q AS ({queries_sql}), c0 AS ({cent_sql}),
c AS (SELECT label AS list_id, cv FROM c0),
asg AS (
  SELECT id, list_id FROM (
    SELECT d.id, c.list_id,
           row_number() OVER (PARTITION BY d.id ORDER BY {adist} ASC, c.list_id ASC) rn
    FROM d CROSS JOIN c) WHERE rn = 1),
enc AS (
  SELECT d.id AS id, a.list_id AS list_id, {enc} AS rcodes
  FROM d JOIN asg a ON d.id = a.id JOIN c ON c.list_id = a.list_id),
probes AS (
  SELECT qid, list_id FROM (
    SELECT q.qid, c.list_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY {pdist} ASC, c.list_id ASC) rn
    FROM q CROSS JOIN c) WHERE rn <= {n_probes}),
dec AS (
  SELECT e.id AS id, e.list_id AS list_id, {dec} AS decv
  FROM enc e JOIN c ON c.list_id = e.list_id),
pairs AS (
  SELECT q.qid AS qid, dec.id AS nid, {fdist} AS distance
  FROM q JOIN probes p ON p.qid = q.qid
       JOIN dec ON dec.list_id = p.list_id),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance {order}, nid ASC) rank
  FROM pairs)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# IVF-BQ: IVF + 1-bit binary quantization (the ivf_rabitq-style path)
# ---------------------------------------------------------------------------

@dataclass
class IVFBQIndex:
    centroids: np.ndarray          # (n_lists, dim)
    bits: DataFrame                # (id, list_id, bits array<int>)
    metric: str = "bitwise_hamming"


def ivf_bq_build(dataset: DataFrame, n_lists: int = 32, *,
                 kmeans_n_iters: int = 10, seed: int = 42,
                 id_col: str = "id", vec_col: str = "vec",
                 centroids: np.ndarray | None = None,
                 threshold: float = 0.0) -> IVFBQIndex:
    """IVF over 1-bit sign codes — the semantics of ``ivf_rabitq``
    (``ivf_rabitq.hpp:38-54``, ``bits_per_dim`` minimal case): 64-dim
    float32 rows compress to 8 bytes of sign bits; candidate scoring is
    pure popcount. Composes the IVF skeleton with the binary quantizer
    (``binary.pyx:21``); ``refine`` recovers exactness on the shortlist
    as the reference does."""
    from cuvs_spark.preprocessing.quantize import binary_quantize

    d = dataset.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).alias("vec"))
    if centroids is None:
        model = kmeans_fit(d.sample(fraction=0.5, seed=seed), n_lists,
                           max_iter=kmeans_n_iters, seed=seed, balanced=True)
        centroids = model.centroids
    # r14: label via the map-only literal fold — binary_quantize is a
    # plain withColumn, so build is one projection (no assign aggregate,
    # no join-back)
    lab_sql = f"element_at({coarse_sorted_sql('vec', centroids)}, 1).l"
    bits = (binary_quantize(d, threshold=threshold)
            .select("id", F.expr(lab_sql).alias("list_id"), "bits"))
    return IVFBQIndex(centroids=np.asarray(centroids, float), bits=bits)


def ivf_bq_search(index: IVFBQIndex, queries: DataFrame, k: int = 10,
                  n_probes: int = 8, *, qid_col: str = "qid",
                  qvec_col: str = "vec", threshold: float = 0.0,
                  refine_with: DataFrame | None = None,
                  refine_k0: int = 30) -> DataFrame:
    """Probe lists, popcount-score sign codes, optionally refine the
    shortlist with exact distances against ``refine_with`` (the raw
    vector table)."""
    from cuvs_spark.operators.pairwise import refine as exact_refine
    from cuvs_spark.preprocessing.quantize import binary_quantize

    from cuvs_spark.plans.layout import spread_narrow
    q = spread_narrow(
        queries.select(F.col(qid_col).cast("long").alias("qid"),
                       F.col(qvec_col).alias("_qv")), "qid")
    # r15: quantize the query inside the probe projection (both are
    # pure functions of q) — the probes ⋈ qbits join-back disappears;
    # same rows, same sign codes, same distances.
    cs = coarse_sorted_sql("_qv", index.centroids)
    qb = binary_quantize(q, vec_col="_qv", threshold=threshold,
                         out_col="qbits")
    probes = (qb.select(
        "qid", "qbits",
        F.explode(F.expr(f"slice({cs}, 1, {n_probes})")).alias("_s"))
        .select("qid", F.col("_s.l").alias("list_id"), "qbits"))
    fine = index.bits.join(F.broadcast(probes), "list_id")
    hdist = F.expr(distance_sql_spark("bitwise_hamming", "qbits", "bits"))
    k0 = refine_k0 if refine_with is not None else k
    pairs = fine.select("qid", F.col("id").alias("nid"),
                        hdist.alias("distance"))
    short = select_k(pairs, "qid", "distance", k0, tie_cols=["nid"])
    if refine_with is None:
        return short
    cand = short.select("qid", F.col("nid").alias("id"))
    return exact_refine(refine_with, queries, cand, k, "sqeuclidean",
                        qid_col=qid_col, qvec_col=qvec_col)


def ivf_bq_search_sql(dataset_sql: str, queries_sql: str, cent_sql: str,
                      k: int, n_probes: int, threshold: float = 0.0) -> str:
    """DuckDB oracle for the popcount stage (no refine)."""
    from cuvs_spark.functions.distance import distance_sql_duckdb
    from cuvs_spark.preprocessing.quantize import binary_quantize_sql
    adist = distance_sql_duckdb("sqeuclidean", "d.dv", "c.cv")
    pdist = distance_sql_duckdb("sqeuclidean", "q.qv", "c.cv")
    hdist = distance_sql_duckdb("bitwise_hamming", "qb.qbits", "db.bits")
    return f"""
WITH d AS ({dataset_sql}), q AS ({queries_sql}), c0 AS ({cent_sql}),
c AS (SELECT label AS list_id, cv FROM c0),
asg AS (
  SELECT id, list_id FROM (
    SELECT d.id, c.list_id,
           row_number() OVER (PARTITION BY d.id ORDER BY {adist} ASC, c.list_id ASC) rn
    FROM d CROSS JOIN c) WHERE rn = 1),
db AS (SELECT d.id AS id, a.list_id AS list_id,
              {binary_quantize_sql('d.dv', threshold)} AS bits
       FROM d JOIN asg a ON d.id = a.id),
qb AS (SELECT qid, {binary_quantize_sql('qv', threshold)} AS qbits FROM q),
probes AS (
  SELECT qid, list_id FROM (
    SELECT q.qid, c.list_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY {pdist} ASC, c.list_id ASC) rn
    FROM q CROSS JOIN c) WHERE rn <= {n_probes}),
pairs AS (
  SELECT qb.qid AS qid, db.id AS nid, {hdist} AS distance
  FROM qb JOIN probes p ON p.qid = qb.qid
       JOIN db ON db.list_id = p.list_id),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance ASC, nid ASC) rank
  FROM pairs)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= {k}
"""
