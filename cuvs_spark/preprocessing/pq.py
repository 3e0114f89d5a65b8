"""Product quantizer (SURVEY.md §2.2).

Reference: ``python/cuvs/cuvs/preprocessing/quantize/pq.pyx:198,247,314``
(build trains a codebook per subspace — ``pq_bits∈[4,16]``, ``pq_dim``,
``kmeans_n_iters=25``; transform encodes vectors to per-subspace code
ids; inverse_transform decodes). ``codebook_kind=subspace``
(``ivf_pq.pyx:40-172``) is the trained layout.

Spark design: a vector splits into ``pq_dim`` subvectors
(``slice(vec, ...)`` — a zero-copy projection); per-subspace k-means
runs over the exploded (id, sub, subvec) relation; encode is an
argmin broadcast-join per subspace with map-side min-struct combine
(same shape as kmeans.assign — shuffle is one row per (id, sub));
decode is a broadcast lookup join + sorted flatten. Codes are
``array<int>`` (one byte-sized id per subspace) — 64-dim float32 →
8 bytes at pq_dim=8, the same 32× compression the reference gets.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuvs_spark.functions.distance import distance_sql_spark


@dataclass
class PQCodebook:
    codebook: np.ndarray        # (pq_dim, n_codes, sub_width) float64

    @property
    def pq_dim(self) -> int:
        return self.codebook.shape[0]

    @property
    def n_codes(self) -> int:
        return self.codebook.shape[1]

    def to_df(self, spark) -> DataFrame:
        rows = [(s, c, [float(x) for x in self.codebook[s, c]])
                for s in range(self.pq_dim) for c in range(self.n_codes)]
        return spark.createDataFrame(rows,
                                     "sub int, code int, centroid array<float>")


@dataclass
class VPQQuantizer:
    """VQ+PQ composite quantizer (``pq.pyx:69-79`` ``use_vq`` /
    ``vq_n_centers``; ``:247`` transform returns ``(codes, vq_labels)``;
    ``:314`` inverse adds the VQ center back): one coarse vector-
    quantization center per vector, product quantization on the
    residual."""
    vq_centroids: np.ndarray        # (vq_n_centers, dim) float64
    pq: PQCodebook

    @property
    def vq_n_centers(self) -> int:
        return self.vq_centroids.shape[0]

    def vq_df(self, spark) -> DataFrame:
        rows = [(i, [float(x) for x in c])
                for i, c in enumerate(self.vq_centroids)]
        return spark.createDataFrame(rows, "vlabel int, vcent array<double>")


# residual of a vector vs its VQ / IVF-PQ list center (the reference's
# select_residuals, ivf_pq_build.cuh:79-127) — double-exact elementwise
# subtraction, the same fold both engines use
def _res_expr(v: str, cent: str) -> str:
    return (f"zip_with({v}, {cent}, (x, c) -> "
            f"CAST(x AS DOUBLE) - CAST(c AS DOUBLE))")


def _subvecs(df: DataFrame, pq_dim: int, *, id_col: str,
             vec_col: str) -> DataFrame:
    """(id, sub, subvec) — one row per subspace slice."""
    d = df.select(F.col(id_col).cast("long").alias("id"),
                  F.col(vec_col).alias("_v"))
    w = f"CAST(size(_v) / {pq_dim} AS INT)"
    return (d.select("id", F.explode(F.expr(
        f"transform(sequence(0, {pq_dim} - 1), "
        f"s -> struct(s AS sub, slice(_v, s * {w} + 1, {w}) AS subvec))"))
        .alias("e"))
        .select("id", F.col("e.sub").alias("sub"),
                F.col("e.subvec").alias("subvec")))


def pq_build(df: DataFrame, pq_dim: int = 8, pq_bits: int = 4, *,
             kmeans_n_iters: int = 10, seed: int = 42, id_col: str = "id",
             vec_col: str = "vec",
             max_train_rows: int = 20000) -> PQCodebook:
    """Train per-subspace codebooks (k = 2^pq_bits) — ``pq.pyx:198``.

    The ``max_train_rows`` seeded sample (:func:`train_sample`, the
    reference's ``max_train_points_per_pq_code`` guard) is collected
    ONCE and every per-subspace Lloyd loop runs driver-side in NumPy:
    one Spark job, and the sample bound (not the dataset size) fixes
    driver memory, as the reference's host-side subsample does."""
    d = df.select(F.col(id_col).cast("long").alias("id"),
                  F.col(vec_col).alias("vec"))
    _, vecs = train_sample(d, seed, "PQ codebook", max_train_rows)
    X = np.vstack(vecs).astype(np.float64)
    return PQCodebook(codebook=_train_books(X, pq_dim, 1 << pq_bits,
                                            np.random.default_rng(seed),
                                            kmeans_n_iters))


def train_sample(d: DataFrame, seed: int, what: str,
                 max_rows: int = 20000) -> tuple[np.ndarray, list]:
    """Up to ``max_rows`` ``(id, vec)`` rows in seeded ``xxhash64(id,
    seed)`` order → ``(ids, vecs)``, in one job. A row collect: it merges
    the per-partition top-k on the driver, where an Arrow collect adds a
    single-partition exchange of every candidate row."""
    rows = (d.withColumn("_h", F.xxhash64("id", F.lit(seed)))
            .orderBy("_h", "id").limit(max_rows)
            .select("id", "vec").collect())
    if not rows:
        raise ValueError(f"cannot train {what} on empty input")
    return (np.array([r["id"] for r in rows], np.int64),
            [r["vec"] for r in rows])


def codebook_array(book: PQCodebook | DataFrame) -> np.ndarray:
    """``(pq_dim, n_codes, sub_width)`` float64 codebook with the
    float32 values of its ``array<float>`` table: narrowed with no job
    from a :class:`PQCodebook`, or collected from a table."""
    if isinstance(book, PQCodebook):
        return book.codebook.astype(np.float32).astype(np.float64)
    rows = book.collect()
    CB = np.zeros((max(r["sub"] for r in rows) + 1,
                   max(r["code"] for r in rows) + 1,
                   len(rows[0]["centroid"])))
    for r in rows:
        CB[r["sub"], r["code"]] = r["centroid"]
    return CB


def pq_codes(X: np.ndarray, CB: np.ndarray) -> np.ndarray:
    """Per-subspace argmin of float64 rows ``X`` against ``CB`` → ``(n,
    pq_dim)`` int32 codes (ties to the lowest code; remainder dims sliced
    off like ``_subvecs``), one subspace at a time to bound the tile."""
    S, _, w = CB.shape
    X3 = X[:, :S * w].reshape(len(X), S, w)
    codes = np.empty((len(X), S), np.int32)
    for s in range(S):
        codes[:, s] = ((X3[:, s, None, :] - CB[s]) ** 2).sum(-1).argmin(-1)
    return codes


def _lloyd(S: np.ndarray, k: int, rng, iters: int) -> np.ndarray:
    """Seeded NumPy Lloyd over a driver-held sample."""
    C = S[rng.choice(len(S), min(k, len(S)), replace=False)]
    if len(C) < k:              # degenerate tiny input: pad with repeats
        C = np.vstack([C, C[rng.integers(0, len(C), k - len(C))]])
    for _ in range(iters):
        D = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        lab = D.argmin(1)
        for j in range(k):
            if (lab == j).any():
                C[j] = S[lab == j].mean(0)
    return C


def _train_books(X: np.ndarray, pq_dim: int, n_codes: int, rng,
                 iters: int) -> np.ndarray:
    w = X.shape[1] // pq_dim
    return np.stack([_lloyd(X[:, s * w:(s + 1) * w].copy(), n_codes, rng,
                            iters)
                     for s in range(pq_dim)])


def vpq_build(df: DataFrame, pq_dim: int = 8, pq_bits: int = 4,
              vq_n_centers: int = 16, *, vq_centroids=None,
              kmeans_n_iters: int = 10, seed: int = 42,
              id_col: str = "id", vec_col: str = "vec",
              max_train_rows: int = 20000) -> VPQQuantizer:
    """Train the VQ+PQ composite (``pq.pyx:198`` with ``use_vq=True``):
    a ``vq_n_centers`` coarse codebook over full vectors, then
    per-subspace PQ codebooks over the RESIDUALS.  Same capped-sample
    discipline as :func:`pq_build` — one Spark job collects the seeded
    sample, all Lloyd loops run driver-side, so driver memory is fixed
    by ``max_train_rows`` at any corpus size."""
    n_codes = 1 << pq_bits
    d = df.select(F.col(id_col).cast("long").alias("id"),
                  F.col(vec_col).alias("vec"))
    _, vecs = train_sample(d, seed, "VPQ quantizer", max_train_rows)
    X = np.vstack(vecs).astype(np.float64)
    rng = np.random.default_rng(seed)
    C = (np.asarray(vq_centroids, dtype=np.float64)
         if vq_centroids is not None
         else _lloyd(X.copy(), vq_n_centers, rng, kmeans_n_iters))
    lab = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    R = X - C[lab]
    books = _train_books(R, pq_dim, n_codes, rng, kmeans_n_iters)
    return VPQQuantizer(vq_centroids=C, pq=PQCodebook(codebook=books))


def pq_transform(df: DataFrame, book: PQCodebook | DataFrame, *,
                 id_col: str = "id", vec_col: str = "vec",
                 method: str = "expr") -> DataFrame:
    """Encode → ``(id, codes array<int>)``: per-subspace argmin vs the
    broadcast codebook, ties to the lowest code id.

    ``method="blas"`` encodes each Arrow batch against the codebook
    tensor in one NumPy pass (map-only, no subvector explosion or
    argmin shuffle) — the bulk-encode path for index builds at scale.
    """
    if method == "blas":
        import pandas as pd

        from cuvs_spark.operators.ivf_flat import vec_matrix
        CB = codebook_array(book)
        S, _, w = CB.shape
        d = df.select(F.col(id_col).cast("long").alias("id"),
                      F.col(vec_col).alias("vec"))

        def encode(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                vecs = pdf["vec"].to_numpy()
                # the batch's dim: its first vector's, when the
                # floor-width subspaces fit it (remainder dims are
                # sliced off, as in _subvecs), else the codebook's
                n = next((len(v) for v in vecs if v is not None), S * w)
                X = vec_matrix(pdf["id"].to_numpy(), vecs,
                               n if n // S == w else S * w, "pq_transform")
                yield pd.DataFrame({"id": pdf["id"],
                                    "codes": list(pq_codes(X, CB))})

        return d.mapInPandas(encode, "id long, codes array<int>")
    spark = df.sparkSession
    cb = book if isinstance(book, DataFrame) else book.to_df(spark)
    pq_dim = (book.pq_dim if isinstance(book, PQCodebook)
              else cb.agg(F.max("sub")).head()[0] + 1)
    return _encode_expr(df, cb, pq_dim, id_col=id_col, vec_col=vec_col)


def _encode_expr(df: DataFrame, cb: DataFrame, pq_dim: int, *,
                 id_col: str = "id", vec_col: str = "vec") -> DataFrame:
    """The expr encode → ``(id, codes)``: per-subspace argmin join
    against the broadcast codebook table, codes in subspace order."""
    sv = _subvecs(df, pq_dim, id_col=id_col, vec_col=vec_col)
    dist = F.expr(distance_sql_spark("sqeuclidean", "subvec", "centroid"))
    best = (sv.join(F.broadcast(cb), "sub")
            .select("id", "sub",
                    F.struct(dist.alias("d"), F.col("code").alias("c"))
                    .alias("_s"))
            .groupBy("id", "sub").agg(F.min("_s").alias("_b"))
            .select("id", "sub", F.col("_b.c").alias("code")))
    return (best.groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("sub", "code")))
                 .alias("_sc"))
            .select("id", F.expr("transform(_sc, x -> x.code)").alias("codes")))


def pq_inverse_transform(codes_df: DataFrame, book: PQCodebook | DataFrame, *,
                         id_col: str = "id",
                         codes_col: str = "codes") -> DataFrame:
    """Decode → ``(id, vec array<float>)``: lookup join + ordered
    flatten (``pq.pyx:314``)."""
    spark = codes_df.sparkSession
    cb = book if isinstance(book, DataFrame) else book.to_df(spark)
    d = codes_df.select(F.col(id_col).cast("long").alias("id"),
                        F.posexplode(codes_col).alias("sub", "code"))
    joined = d.join(F.broadcast(cb), ["sub", "code"])
    return (joined.groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("sub", "centroid")))
                 .alias("_sc"))
            .select("id", F.expr(
                "flatten(transform(_sc, x -> x.centroid))").alias("vec")))


def vpq_transform(df: DataFrame, quant: VPQQuantizer, *,
                  vq: DataFrame | None = None,
                  codebook: DataFrame | None = None,
                  id_col: str = "id", vec_col: str = "vec",
                  method: str = "expr") -> DataFrame:
    """VQ+PQ encode → ``(id, vq_label, codes array<int>)``
    (``pq.pyx:247`` returns ``(codes, vq_labels)`` when ``use_vq``).

    expr path: fused argmin min-struct agg vs the broadcast VQ table
    (the kmeans.assign shape), double-exact residual, then the standard
    PQ argmin-join — all JVM expressions.  ``method="blas"`` does
    assign + residual + encode for each Arrow batch in one NumPy pass
    (map-only, the bulk path for index builds).  ``vq``/``codebook``
    override the model's tables (gates pass data-derived fixtures)."""
    spark = df.sparkSession
    d = df.select(F.col(id_col).cast("long").alias("id"),
                  F.col(vec_col).alias("vec"))
    if method == "blas":
        import pandas as pd

        from cuvs_spark.operators.ivf_flat import vec_matrix
        C = quant.vq_centroids
        CB = quant.pq.codebook

        def encode(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                X = vec_matrix(pdf["id"].to_numpy(), pdf["vec"].to_numpy(),
                               C.shape[1], "vpq_transform")
                lab = ((X[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
                yield pd.DataFrame({"id": pdf["id"],
                                    "vq_label": lab.astype(np.int32),
                                    "codes": list(pq_codes(X - C[lab],
                                                           CB))})

        return d.mapInPandas(encode,
                             "id long, vq_label int, codes array<int>")
    vqt = vq if vq is not None else quant.vq_df(spark)
    r = vpq_residuals(d, vqt)
    book = codebook if codebook is not None else quant.pq
    codes = pq_transform(r, book, vec_col="rvec")
    return (codes.join(r.select("id", "vq_label"), "id")
            .select("id", "vq_label", "codes"))


def vpq_residuals(df: DataFrame, vq: DataFrame, *, id_col: str = "id",
                  vec_col: str = "vec") -> DataFrame:
    """(id, vq_label, rvec): fused argmin assignment vs the broadcast
    VQ table (min-struct agg — ties to the lowest label, matching the
    oracle's ``ORDER BY dist, vlabel``) + double-exact residual."""
    d = df.select(F.col(id_col).cast("long").alias("id"),
                  F.col(vec_col).alias("vec"))
    dist = F.expr(distance_sql_spark("sqeuclidean", "vec", "vcent"))
    lab = (d.join(F.broadcast(vq))
           .groupBy("id")
           .agg(F.min(F.struct(dist.alias("d"),
                               F.col("vlabel").alias("l"))).alias("_b"))
           .select("id", F.col("_b.l").alias("vq_label")))
    return (d.join(lab, "id")
            .join(F.broadcast(vq), F.col("vq_label") == F.col("vlabel"))
            .select("id", "vq_label",
                    F.expr(_res_expr("vec", "vcent")).alias("rvec")))


def vpq_inverse_transform(codes_df: DataFrame, quant: VPQQuantizer, *,
                          vq: DataFrame | None = None,
                          codebook: DataFrame | None = None,
                          id_col: str = "id", codes_col: str = "codes",
                          label_col: str = "vq_label") -> DataFrame:
    """Decode → ``(id, vec array<double>)``: PQ residual decode + VQ
    center add-back (``pq.pyx:314`` requires ``vq_labels``)."""
    spark = codes_df.sparkSession
    vqt = vq if vq is not None else quant.vq_df(spark)
    book = codebook if codebook is not None else quant.pq
    lab = codes_df.select(F.col(id_col).cast("long").alias("id"),
                          F.col(label_col).alias("_l"))
    dec = pq_inverse_transform(codes_df, book, id_col=id_col,
                               codes_col=codes_col)
    return (dec.join(lab, "id")
            .join(F.broadcast(vqt), F.col("_l") == F.col("vlabel"))
            .select("id", F.expr(
                "zip_with(vec, vcent, (r, c) -> "
                "CAST(r AS DOUBLE) + CAST(c AS DOUBLE))").alias("vec")))


# ---------------------------------------------------------------------------
# DuckDB oracle twins (fixed codebook passed as a subquery (sub, code,
# centroid)); same join/argmin/flatten structure.
# ---------------------------------------------------------------------------

def pq_transform_sql(dataset_sql: str, codebook_sql: str, pq_dim: int) -> str:
    from cuvs_spark.functions.distance import distance_sql_duckdb
    dist = distance_sql_duckdb("sqeuclidean", "sv.subvec", "cb.centroid")
    return f"""
WITH d AS ({dataset_sql}), cb AS ({codebook_sql}),
sv AS (
  SELECT d.id AS id, s.sub AS sub,
         d.dv[(s.sub * (len(d.dv) // {pq_dim}) + 1):
              ((s.sub + 1) * (len(d.dv) // {pq_dim}))] AS subvec
  FROM d, (SELECT unnest(range({pq_dim})) AS sub) s
),
best AS (
  SELECT id, sub, code FROM (
    SELECT sv.id, sv.sub, cb.code,
           row_number() OVER (PARTITION BY sv.id, sv.sub
                              ORDER BY {dist} ASC, cb.code ASC) AS rn
    FROM sv JOIN cb ON sv.sub = cb.sub) WHERE rn = 1
)
SELECT id, list(code ORDER BY sub) AS codes FROM best GROUP BY id
"""


def vpq_res_sql(dataset_sql: str, vq_sql: str) -> str:
    """(id, vq_label, dv=residual) — argmin VQ assignment + double-exact
    residual; the shared front half of the VPQ transform oracle."""
    from cuvs_spark.functions.distance import distance_sql_duckdb
    adist = distance_sql_duckdb("sqeuclidean", "d0.dv", "v.vcent")
    return f"""
WITH d0 AS ({dataset_sql}), v AS ({vq_sql}),
asg AS (
  SELECT id, vlabel FROM (
    SELECT d0.id, v.vlabel,
           row_number() OVER (PARTITION BY d0.id
                              ORDER BY {adist} ASC, v.vlabel ASC) rn
    FROM d0 CROSS JOIN v) WHERE rn = 1)
SELECT d0.id AS id, a.vlabel AS vq_label,
       list_transform(list_zip(d0.dv, v.vcent),
                      p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS dv
FROM d0 JOIN asg a ON d0.id = a.id JOIN v ON v.vlabel = a.vlabel
"""


def vpq_transform_sql(dataset_sql: str, vq_sql: str, codebook_sql: str,
                      pq_dim: int) -> str:
    """→ (id, vq_label, codes); ``codebook_sql`` must be a codebook over
    RESIDUAL subvectors (the gate derives it from the same residual
    relation, so both engines see bit-identical centroids)."""
    return f"""
WITH r AS ({vpq_res_sql(dataset_sql, vq_sql)}),
enc AS ({pq_transform_sql("SELECT id, dv FROM r", codebook_sql, pq_dim)})
SELECT enc.id AS id, r.vq_label AS vq_label, enc.codes AS codes
FROM enc JOIN r ON enc.id = r.id
"""


def vpq_inverse_sql(codes_sql: str, vq_sql: str, codebook_sql: str) -> str:
    """→ (id, vec): PQ residual decode + VQ center add-back;
    ``codes_sql`` must yield (id, vq_label, codes)."""
    return f"""
WITH c0 AS ({codes_sql}), v AS ({vq_sql}),
dec AS ({pq_inverse_sql("SELECT id, codes FROM c0", codebook_sql)})
SELECT dec.id AS id,
       list_transform(list_zip(dec.vec, v.vcent),
                      p -> CAST(p[1] AS DOUBLE) + CAST(p[2] AS DOUBLE)) AS vec
FROM dec JOIN c0 ON dec.id = c0.id JOIN v ON v.vlabel = c0.vq_label
"""


def pq_inverse_sql(codes_sql: str, codebook_sql: str) -> str:
    return f"""
WITH c AS ({codes_sql}), cb AS ({codebook_sql}),
ex AS (
  SELECT id, CAST(generate_subscripts(codes, 1) AS INT) - 1 AS sub,
         unnest(codes) AS code
  FROM c
)
SELECT ex.id AS id,
       flatten(list(cb.centroid ORDER BY ex.sub)) AS vec
FROM ex JOIN cb ON ex.sub = cb.sub AND ex.code = cb.code
GROUP BY ex.id
"""
