"""Registry wiring SURVEY.md §2 operators to testdata + DuckDB oracles.

Every entry here is one line of the correctness gate: the Spark callable
``(spark, sf_dir) -> DataFrame`` and a DuckDB SQL string over the
pre-registered views (region nation customer supplier part orders
lineitem events documents embeddings) that must value-hash-match it.

Parity strategy: distances are generated from the same templates on both
engines (``functions/distance.py``) with identical fold order → bit-equal
doubles; float group-sums are rounded to 6 dp on both sides; ranks are
BIGINT on both sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cuvs_spark.operators import (
    eps_degrees,
    epsilon_neighborhood,
    kde,
    knn,
    knn_merge_parts,
    pairwise_distance,
    refine,
)
from cuvs_spark.operators.pairwise import _KERNELS
from cuvs_spark.plans import oracle as O

QUERIES: dict = {}
ORACLES: dict = {}


def register(name, fn, oracle=None):
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


def T(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def emb_dataset(spark, sf_dir):
    return (T(spark, sf_dir, "embeddings")
            .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"),
                    "label"))


def emb_queries(spark, sf_dir, nq=20):
    return (T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < nq)
            .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")))


# DuckDB subqueries matching emb_dataset / emb_queries
_D_SQL = "SELECT vec_id AS nid, embedding AS dv FROM embeddings"
_Q_SQL = "SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {nq}"

# binarized variant (>0 → 1.0) so the set-family metrics are non-degenerate
_BIN = ("list_transform({col}, v -> CASE WHEN v > 0 THEN CAST(1 AS FLOAT) "
        "ELSE CAST(0 AS FLOAT) END)")
_BIN_SPARK = ("transform({col}, v -> CASE WHEN v > 0 THEN CAST(1 AS FLOAT) "
              "ELSE CAST(0 AS FLOAT) END)")
# probability-vector variant (abs / sum(abs)) for hellinger/JS/KL
_PROB_SPARK = (
    "transform({col}, v -> CAST(CAST(abs(v) AS DOUBLE) / "
    "aggregate({col}, CAST(0 AS DOUBLE), (acc, u) -> acc + CAST(abs(u) AS DOUBLE)) "
    "AS FLOAT))")
_PROB = (
    "list_transform({col}, v -> CAST(CAST(abs(v) AS DOUBLE) / "
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform({col}, u -> CAST(abs(u) AS DOUBLE))), (acc, u) -> acc + u) "
    "AS FLOAT))")

_XFORMS = {"bin": (_BIN_SPARK, _BIN), "prob": (_PROB_SPARK, _PROB)}


def _knn_query(metric, nq=20, k=10, method="expr", with_distance=True,
               xform=None):
    spark_x, duck_x = _XFORMS.get(xform, (None, None))

    def fn(spark, sf_dir, metric=metric, nq=nq, k=k, method=method,
           with_distance=with_distance, spark_x=spark_x):
        d = emb_dataset(spark, sf_dir)
        q = emb_queries(spark, sf_dir, nq)
        if spark_x:
            d = d.withColumn("vec", F.expr(spark_x.format(col="vec")))
            q = q.withColumn("qv", F.expr(spark_x.format(col="qv")))
        return knn(d, q, k, metric, qvec_col="qv", method=method,
                   with_distance=with_distance)
    if duck_x:
        d_sql = (f"SELECT vec_id AS nid, {duck_x.format(col='embedding')} AS dv "
                 f"FROM embeddings")
        q_sql = (f"SELECT vec_id AS qid, {duck_x.format(col='embedding')} AS qv "
                 f"FROM embeddings WHERE vec_id < {nq}")
    else:
        d_sql, q_sql = _D_SQL, _Q_SQL.format(nq=nq)
    sql = O.knn_sql(d_sql, q_sql, k, metric, with_distance=with_distance)
    return fn, sql


# --- brute-force kNN across the metric family (SURVEY §2.3, §2.5) ---------
for _metric in ["sqeuclidean", "euclidean", "cosine", "inner_product",
                "cityblock", "chebyshev", "canberra", "braycurtis",
                "hamming", "correlation"]:
    _fn, _sql = _knn_query(_metric)
    register(f"knn_bf_{_metric}", _fn, _sql)

for _metric in ["jaccard", "russellrao", "dice"]:
    _fn, _sql = _knn_query(_metric, xform="bin")
    register(f"knn_bf_{_metric}", _fn, _sql)

_fn, _sql = _knn_query("hellinger", xform="prob")
register("knn_bf_hellinger", _fn, _sql)

# BLAS-tiled scale path: same logical result, ids+rank only (float sums
# via GEMM are not bit-reproducible; ordering is)
_fn, _sql = _knn_query("euclidean", method="blas", with_distance=False)
register("knn_bf_euclidean_blas", _fn, _sql)
_fn, _sql = _knn_query("inner_product", method="blas", with_distance=False)
register("knn_bf_inner_product_blas", _fn, _sql)


# --- filtered search (bitset / bitmap analogs, filters.pyx) ----------------
def _knn_filtered(spark, sf_dir):
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    return knn(d, q, 10, "sqeuclidean", qvec_col="qv",
               prefilter=F.col("label") != 3)


register(
    "knn_bf_prefilter_bitset", _knn_filtered,
    O.knn_sql("SELECT vec_id AS nid, embedding AS dv FROM embeddings WHERE label <> 3",
              _Q_SQL.format(nq=20), 10, "sqeuclidean"))


def _knn_bitmap(spark, sf_dir):
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    allow = (q.select("qid").crossJoin(d.select("id"))
             .filter((F.col("qid") + F.col("id")) % 3 != 0))
    return knn(d, q, 10, "sqeuclidean", qvec_col="qv", allow_pairs=allow)


register(
    "knn_bf_prefilter_bitmap", _knn_bitmap,
    O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "sqeuclidean",
              pair_where="(q.qid + d.nid) % 3 <> 0"))


# --- knn_merge_parts (§2.4): shard the dataset, merge per-part top-k ------
def _knn_merge(spark, sf_dir):
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    parts = [knn(d.filter(F.col("id") % 2 == m), q, 10, "sqeuclidean",
                 qvec_col="qv") for m in (0, 1)]
    return knn_merge_parts(parts, 10)


register("knn_merge_parts", _knn_merge,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "sqeuclidean"))


# --- pairwise distance matrices (§2.3) ------------------------------------
def _pairwise(metric, n=30, xform=None):
    spark_x, duck_x = _XFORMS.get(xform, (None, None))

    def fn(spark, sf_dir, metric=metric, n=n, spark_x=spark_x):
        e = T(spark, sf_dir, "embeddings")
        X = (e.filter(F.col("vec_id") < n)
             .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")))
        if spark_x:
            X = X.withColumn("vec", F.expr(spark_x.format(col="vec")))
        return pairwise_distance(X, None, metric)
    col = duck_x.format(col="embedding") if duck_x else "embedding"
    sub = (f"SELECT vec_id AS i, {col} AS xa FROM embeddings "
           f"WHERE vec_id < {n}")
    sub2 = (f"SELECT vec_id AS j, {col} AS xb FROM embeddings "
            f"WHERE vec_id < {n}")
    return fn, O.pairwise_sql(sub, sub2, metric)


for _metric in ["sqeuclidean", "cosine", "chebyshev", "canberra",
                "euclidean", "cityblock", "braycurtis", "correlation",
                "inner_product"]:  # minkowski: engines' pow() differ 1 ulp
    _fn, _sql = _pairwise(_metric)
    register(f"pairwise_{_metric}", _fn, _sql)

# set-family metrics over binarized vectors (same transforms as the
# knn_bf gates); hellinger over probability vectors (sqrt is IEEE-exact)
for _metric in ["jaccard", "dice", "russellrao", "hamming"]:
    _fn, _sql = _pairwise(_metric, xform="bin")
    register(f"pairwise_{_metric}", _fn, _sql)

_fn, _sql = _pairwise("hellinger", xform="prob")
register("pairwise_hellinger", _fn, _sql)


# --- epsilon neighborhood range join (§2.5) -------------------------------
_EPS = 1.5


def _eps(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    X = e.select("id", "vec")
    return epsilon_neighborhood(X, None, _EPS, "sqeuclidean")


def _eps_deg(spark, sf_dir):
    return eps_degrees(_eps(spark, sf_dir))


_EPS_X = "SELECT vec_id AS i, embedding AS xa FROM embeddings"
_EPS_Y = "SELECT vec_id AS j, embedding AS xb FROM embeddings"
register("eps_neighborhood", _eps, O.eps_sql(_EPS_X, _EPS_Y, _EPS, "sqeuclidean"))
register("eps_neighborhood_degrees", _eps_deg,
         f"SELECT i, CAST(count(*) AS BIGINT) AS degree FROM ("
         + O.eps_sql(_EPS_X, _EPS_Y, _EPS, "sqeuclidean") + ") GROUP BY i")


# --- KDE (§2.3) -----------------------------------------------------------
def _kde(spark, sf_dir):
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 50)
    return kde(d, q, bandwidth=3.0, kernel="epanechnikov",
               metric="euclidean", qvec_col="qv")


register("kde_epanechnikov", _kde,
         O.kde_sql(_D_SQL, _Q_SQL.format(nq=50), 3.0,
                   _KERNELS["epanechnikov"], "euclidean"))


# --- refine (§2.4): exact re-rank of candidate sets -----------------------
def _refine(spark, sf_dir):
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    cand = (q.select("qid").crossJoin(d.select("id"))
            .filter(F.col("id") % 5 == F.col("qid") % 5))
    return refine(d, q, cand, 10, "sqeuclidean", qvec_col="qv")


register("refine_sqeuclidean", _refine,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "sqeuclidean",
                   pair_where="(d.nid % 5) = (q.qid % 5)"))


def _refine_cosine(spark, sf_dir):
    """refine with a non-default metric (refine.pyx metric= arg): the
    re-rank must order by exact cosine over the candidate set."""
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    cand = (q.select("qid").crossJoin(d.select("id"))
            .filter(F.col("id") % 5 == F.col("qid") % 5))
    return refine(d, q, cand, 10, "cosine", qvec_col="qv")


register("refine_cosine", _refine_cosine,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "cosine",
                   pair_where="(d.nid % 5) = (q.qid % 5)"))


# --- k-means family (SURVEY §2.6) -----------------------------------------
# Fixed deterministic centroids (= first K embedding vectors) make
# predict / cost / one-Lloyd-step fully SQL-expressible → exact oracles.
# The trained path (kmeans_fit) is iterative & non-SQL → rows-only check
# here, recall/quality asserted in tests/test_kmeans.py.
_K_FIXED = 8


def _fixed_centroids(spark, sf_dir, k=_K_FIXED):
    import numpy as np
    rows = (T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < k)
            .orderBy("vec_id").collect())
    return np.array([r["embedding"] for r in rows], dtype=float)


_CENT_SQL = ("SELECT vec_id AS label, embedding AS cv FROM embeddings "
             f"WHERE vec_id < {_K_FIXED}")
_DA_SQL = "SELECT vec_id AS id, embedding AS dv FROM embeddings"


def _kmeans_assign(spark, sf_dir):
    from cuvs_spark.cluster import kmeans_predict
    d = emb_dataset(spark, sf_dir)
    out = kmeans_predict(d, _fixed_centroids(spark, sf_dir))
    return out.select(F.col("id").cast("long"), F.col("label").cast("long"))


register("kmeans_predict", _kmeans_assign, O.assign_sql(_DA_SQL, _CENT_SQL))


def _kmeans_cost(spark, sf_dir):
    from cuvs_spark.cluster import cluster_cost
    d = emb_dataset(spark, sf_dir)
    return cluster_cost(d, _fixed_centroids(spark, sf_dir))


register("kmeans_cluster_cost", _kmeans_cost,
         O.cluster_cost_sql(_DA_SQL, _CENT_SQL))


def _kmeans_lloyd(spark, sf_dir):
    from cuvs_spark.cluster.kmeans import assign
    d = emb_dataset(spark, sf_dir).select("id", "vec")
    lab = assign(d, _fixed_centroids(spark, sf_dir))
    return (d.join(lab, "id")
            .select(F.col("label").cast("long"),
                    F.posexplode("vec").alias("dim", "x"))
            .groupBy("label", "dim")
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("val"))
            .select(F.col("label"), F.col("dim").cast("long"), "val"))


register("kmeans_lloyd_step", _kmeans_lloyd,
         O.lloyd_step_sql(_DA_SQL, _CENT_SQL))


_KM_FIT_ITERS = 3


def _kmeans_fit_rows(spark, sf_dir):
    """Trained k-means, now oracle-backed: fixed ndarray init, tol=0.0
    (always runs the full iteration budget), update_method="expr"
    (assignment via the bit-parity distance template) and
    centroid_round=6 — every iteration's centroids are rounded
    identically on both engines, so the DuckDB chained-Lloyd CTE
    (plans/oracle.kmeans_fit_sql) reproduces the fit exactly.

    Output is exploded ``(label, dim, val)`` — the harness canonicalizer
    sorts every column and cannot hash an ``array<float>`` cell (the one
    red row of round 2), so never emit array-typed columns from a gate.
    """
    from cuvs_spark.cluster import kmeans_fit
    d = emb_dataset(spark, sf_dir)
    model = kmeans_fit(d, _K_FIXED, max_iter=_KM_FIT_ITERS, tol=0.0,
                       init=_fixed_centroids(spark, sf_dir),
                       update_method="expr", centroid_round=6)
    rows = [(int(lab), int(dim), round(float(v), 6))
            for lab, c in enumerate(model.centroids)
            for dim, v in enumerate(c)]
    return spark.createDataFrame(rows, "label long, dim long, val double")


register("kmeans_fit_centroids", _kmeans_fit_rows,
         O.kmeans_fit_sql(_DA_SQL, _CENT_SQL, _KM_FIT_ITERS))


# --- IVF-Flat (SURVEY §2.5): partition-pruned ANN search ------------------
_IVF_LISTS, _IVF_PROBES = 16, 4
_IVF_CENT_SQL = ("SELECT vec_id AS label, embedding AS cv FROM embeddings "
                 f"WHERE vec_id < {_IVF_LISTS}")


def _ivf_search_fixed(spark, sf_dir):
    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_flat_build(d, _IVF_LISTS,
                         centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_flat_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


register("ivf_flat_search", _ivf_search_fixed,
         O.ivf_flat_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                               10, _IVF_PROBES))


def _ivf_extend_search(spark, sf_dir):
    """Build on ids ≥ 100, extend with ids < 100, search — must equal a
    full-dataset IVF search (same fixed centroids)."""
    from cuvs_spark.operators.ivf_flat import (ivf_flat_build,
                                               ivf_flat_extend,
                                               ivf_flat_search)
    d = emb_dataset(spark, sf_dir)
    cent = _fixed_centroids(spark, sf_dir, _IVF_LISTS)
    idx = ivf_flat_build(d.filter(F.col("id") >= 100), _IVF_LISTS,
                         centroids=cent)
    idx = ivf_flat_extend(idx, d.filter(F.col("id") < 100))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_flat_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


register("ivf_flat_extend_search", _ivf_extend_search,
         O.ivf_flat_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                               10, _IVF_PROBES))


# --- LLM-data-pipeline operators: dedup + text analysis -------------------
# (north-star extensions per BASELINE.json; graded alongside SURVEY §2)
from cuvs_spark.pipeline import dedup as DD
from cuvs_spark.pipeline import text as TX


def doc_table(spark, sf_dir):
    return (T(spark, sf_dir, "documents")
            .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))


_DOC_SQL = "SELECT doc_id, text FROM documents"
# the corpus has no natural dups — inject exact copies (ids+100000) and
# near copies (ids+200000, two appended tokens) on both engines alike
_DOC_DUP_SQL = """SELECT doc_id, text FROM documents
UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' zq1 zq2' AS text
FROM documents WHERE doc_id >= 50 AND doc_id < 100"""


def _docs_with_dups(spark, sf_dir):
    d = doc_table(spark, sf_dir)
    exact = (d.filter(F.col("doc_id") < 50)
             .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    near = (d.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
            .select((F.col("doc_id") + 200000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zq1 zq2")).alias("text")))
    return d.unionByName(exact).unionByName(near)


def _dedup_exact(spark, sf_dir):
    return DD.exact_dedup(_docs_with_dups(spark, sf_dir))


register("dedup_exact", _dedup_exact, DD.exact_dedup_sql(_DOC_DUP_SQL))


def _minhash_sigs(spark, sf_dir):
    return DD.minhash_signatures(doc_table(spark, sf_dir))


register("dedup_minhash_signatures", _minhash_sigs,
         DD.minhash_signatures_sql(_DOC_SQL))


def _minhash_lsh(spark, sf_dir):
    return DD.minhash_lsh_pairs(_docs_with_dups(spark, sf_dir),
                                jaccard_threshold=0.5)


register("dedup_minhash_lsh_pairs", _minhash_lsh,
         DD.minhash_lsh_pairs_sql(_DOC_DUP_SQL, 0.5))


def _simhash(spark, sf_dir):
    return DD.simhash(doc_table(spark, sf_dir))


register("dedup_simhash", _simhash, DD.simhash_sql(_DOC_SQL))


def _simhash_near(spark, sf_dir):
    return DD.simhash_near_dup(_docs_with_dups(spark, sf_dir), max_hamming=3)


register("dedup_simhash_near_dup", _simhash_near,
         DD.simhash_near_dup_sql(_DOC_DUP_SQL, 3))


def _simhash_wide(spark, sf_dir):
    """60-bit sketch — the corpus-scale band-cardinality path (32-bit
    band keys collide past ~1e5 docs; see simhash_near_dup docstring)."""
    return DD.simhash_near_dup(_docs_with_dups(spark, sf_dir),
                               max_hamming=3, bits=60)


register("dedup_simhash_wide", _simhash_wide,
         DD.simhash_near_dup_sql(_DOC_DUP_SQL, 3, 60))


def _ngram_jac(spark, sf_dir):
    return DD.ngram_jaccard_pairs(doc_table(spark, sf_dir), 3,
                                  threshold=0.2, max_docs=40)


register("dedup_ngram_jaccard", _ngram_jac,
         DD.ngram_jaccard_pairs_sql(
             "SELECT doc_id, text FROM documents WHERE doc_id < 40", 3, 0.2))


def _ngram_jac_lsh(spark, sf_dir):
    """n-gram Jaccard routed behind MinHash-LSH candidates — the
    composed scale path (cost tracks candidates, not corpus²)."""
    return DD.ngram_jaccard_lsh(_docs_with_dups(spark, sf_dir), 3,
                                threshold=0.2,
                                lsh_jaccard_threshold=0.3)


register("dedup_ngram_jaccard_lsh", _ngram_jac_lsh,
         DD.ngram_jaccard_lsh_sql(_DOC_DUP_SQL, 3, 0.2, 0.3))


def _emb_near_dup(spark, sf_dir):
    return DD.embedding_near_dup(T(spark, sf_dir, "embeddings"), tau=0.62)


register("dedup_embedding_cosine", _emb_near_dup,
         DD.embedding_near_dup_sql(0.62))


def _lang_id(spark, sf_dir):
    return TX.language_id(doc_table(spark, sf_dir))


register("text_language_id", _lang_id, TX.language_id_sql(_DOC_SQL))


def _quality(spark, sf_dir):
    return TX.quality_score(doc_table(spark, sf_dir))


register("text_quality_score", _quality, TX.quality_score_sql(_DOC_SQL))


def _tok_counts(spark, sf_dir):
    return TX.token_counts(doc_table(spark, sf_dir))


register("text_token_counts", _tok_counts, TX.token_counts_sql(_DOC_SQL))


def _fingerprints(spark, sf_dir):
    return TX.doc_fingerprints(doc_table(spark, sf_dir))


register("text_fingerprints", _fingerprints,
         TX.doc_fingerprints_sql(_DOC_SQL))


def _repetition(spark, sf_dir):
    return TX.repetition_stats(doc_table(spark, sf_dir))


register("text_repetition_stats", _repetition,
         TX.repetition_stats_sql(_DOC_SQL))


# PII scrub + C4 line filter: the corpus has no natural PII or
# multi-line docs, so both engines synthesize identical structure from
# doc_id (emails/IPs/phones appended; text split into 4 lines, two of
# which pass the C4 keep rule)
_PII_AUG_SPARK = (
    "concat(text, ' contact user', doc_id, '@mail.example.com or call "
    "+1 555-01', doc_id % 100, '9 from 10.0.', doc_id % 256, '.7 end.')")
_PII_AUG_SQL = (
    "SELECT doc_id, text || ' contact user' || doc_id || "
    "'@mail.example.com or call +1 555-01' || (doc_id % 100) || "
    "'9 from 10.0.' || (doc_id % 256) || '.7 end.' AS text FROM documents")


def _pii_scrub(spark, sf_dir):
    aug = doc_table(spark, sf_dir).withColumn("text", F.expr(_PII_AUG_SPARK))
    return TX.pii_scrub(aug)


register("text_pii_scrub", _pii_scrub, TX.pii_scrub_sql(_PII_AUG_SQL))

_C4_AUG_SPARK = ("concat(text, '.', '\\n', 'short line', '\\n', text, "
                 "'\\n', 'Sign in now!')")
_C4_AUG_SQL = ("SELECT doc_id, text || '.' || chr(10) || 'short line' || "
               "chr(10) || text || chr(10) || 'Sign in now!' AS text "
               "FROM documents")


def _c4_filter(spark, sf_dir):
    aug = doc_table(spark, sf_dir).withColumn("text", F.expr(_C4_AUG_SPARK))
    return TX.c4_line_filter(aug)


register("text_c4_line_filter", _c4_filter,
         TX.c4_line_filter_sql(_C4_AUG_SQL))


def _lm_score(spark, sf_dir):
    """CCNet-style LM quality stage: unigram LM trained on the corpus,
    docs scored by mean in-vocab token probability + OOV fraction
    (rational arithmetic only — libm-free, hash-exact)."""
    d = doc_table(spark, sf_dir)
    return TX.lm_score(d, TX.unigram_lm(d))


register("text_lm_score", _lm_score, TX.lm_score_sql(_DOC_SQL))


def _lm_score_bigram(spark, sf_dir):
    """Bigram LM perplexity-filter stage: add-one-smoothed conditional
    pair probabilities, corpus-trained, rational arithmetic only."""
    d = doc_table(spark, sf_dir)
    big, ctx, v = TX.bigram_lm(d)
    return TX.lm_score_bigram(d, big, ctx, v)


register("text_lm_score_bigram", _lm_score_bigram,
         TX.lm_score_bigram_sql(_DOC_SQL))


def _chunk_docs(spark, sf_dir):
    """Sliding-window chunking (64-token chunks, 16-token overlap) —
    the embedding/RAG ingestion splitter; map-only, boundaries are
    pure integer functions of the token count."""
    return TX.chunk_documents(doc_table(spark, sf_dir),
                              chunk_tokens=64, overlap=16)


register("text_chunk_documents", _chunk_docs,
         TX.chunk_documents_sql(_DOC_SQL, 64, 16))


def _tfidf_keywords(spark, sf_dir):
    """Top-5 TF-IDF terms per doc (log-free rational IDF (N+1)/(df+1)
    — same ranking as log IDF, bit-exact across engines)."""
    return TX.tfidf_keywords(doc_table(spark, sf_dir), 5)


register("text_tfidf_keywords", _tfidf_keywords,
         TX.tfidf_keywords_sql(_DOC_SQL, 5))


def _top_ngrams(spark, sf_dir):
    """Corpus top-20 bigrams with doc- and total-frequency — the
    corpus-statistics pass (boilerplate discovery / mixture audit)."""
    return TX.top_ngrams(doc_table(spark, sf_dir), n=2, k=20)


register("text_top_ngrams", _top_ngrams,
         TX.top_ngrams_sql(_DOC_SQL, 2, 20))


# --- lexical + hybrid retrieval (BM25, RRF fusion) -------------------------
_BM25_Q_SPARK = ("array_join(slice(filter(split(text, '\\\\s+'), "
                 "t -> t <> ''), 1, 5), ' ')")
_BM25_Q_SQL = ("SELECT doc_id AS qid, array_to_string("
               "(list_filter(regexp_split_to_array(text, '\\s+'), "
               "t -> t <> ''))[1:5], ' ') AS qtext "
               "FROM documents WHERE doc_id < 10")


def _bm25_queries(spark, sf_dir):
    return (doc_table(spark, sf_dir).filter(F.col("doc_id") < 10)
            .select(F.col("doc_id").alias("qid"),
                    F.expr(_BM25_Q_SPARK).alias("qtext")))


def _bm25_topk(spark, sf_dir):
    """BM25 lexical top-10 for 10 first-5-token queries drawn from the
    corpus itself (rational Robertson IDF — the repo's libm-free gate
    discipline; `idf='lucene'` is the downstream log form)."""
    from cuvs_spark.pipeline.retrieval import bm25_search
    return bm25_search(doc_table(spark, sf_dir),
                       _bm25_queries(spark, sf_dir), 10)


def _register_retrieval_gates():
    from cuvs_spark.pipeline.retrieval import bm25_search_sql, rrf_fuse_sql
    register("text_bm25_topk", _bm25_topk,
             bm25_search_sql(_DOC_SQL, _BM25_Q_SQL, 10))

    def _hybrid(spark, sf_dir):
        """Hybrid retrieval: RRF fusion of the BM25 lexical ranking
        with the cosine vector ranking (doc_id ≡ vec_id in the test
        corpus) — the standard hybrid-search combiner."""
        from cuvs_spark.operators import knn
        from cuvs_spark.pipeline.retrieval import bm25_search, rrf_fuse
        bm = bm25_search(doc_table(spark, sf_dir),
                         _bm25_queries(spark, sf_dir), 10)
        d = emb_dataset(spark, sf_dir)
        q = emb_queries(spark, sf_dir, 10)
        vec = (knn(d, q, 10, "cosine", qvec_col="qv")
               .select("qid", F.col("nid").alias("doc_id"), "rank"))
        return rrf_fuse([bm, vec], 10)

    vec_sql = ("SELECT qid, nid AS doc_id, rank FROM ("
               + O.knn_sql(_D_SQL, _Q_SQL.format(nq=10), 10,
                           "cosine").strip() + ")")
    register("text_hybrid_rrf", _hybrid,
             rrf_fuse_sql([
                 bm25_search_sql(_DOC_SQL, _BM25_Q_SQL, 10),
                 vec_sql], 10))


_register_retrieval_gates()


def _gopher_quality(spark, sf_dir):
    """Full Gopher §A1.1 rule set (beyond the repetition filters):
    symbol ratios, bullet/ellipsis line fractions, alpha-word fraction,
    stopword requirement + the composed keep verdict."""
    return TX.gopher_quality(doc_table(spark, sf_dir))


register("text_gopher_quality", _gopher_quality,
         TX.gopher_quality_sql(_DOC_SQL))


# --- deterministic sampling / splitting / packing --------------------------
def _sample_det(spark, sf_dir):
    from cuvs_spark.pipeline.sampling import deterministic_sample
    return deterministic_sample(doc_table(spark, sf_dir), 0.25) \
        .select("doc_id")


def _hash_split(spark, sf_dir):
    from cuvs_spark.pipeline.sampling import hash_split
    return hash_split(doc_table(spark, sf_dir),
                      {"train": 0.8, "val": 0.1, "test": 0.1}) \
        .select("doc_id", "split")


def _pack_seqs(spark, sf_dir):
    """Shard-parallel contiguous-fill packing over real token counts
    (4 shards by doc_id — the per-shard window is the scale unit)."""
    from cuvs_spark.pipeline.sampling import pack_sequences
    counts = (TX.token_counts(doc_table(spark, sf_dir))
              .select("doc_id", F.col("ws_tokens").alias("n_tokens"),
                      (F.col("doc_id") % 4).alias("shard")))
    return pack_sequences(counts, 512, key_col="shard")


def _epoch_shuffle(spark, sf_dir):
    """Deterministic epoch-3 training order over the corpus — the
    distributed offset+local-rank plan must reproduce the oracle's
    single-window global row_number exactly (total (key, id) order)."""
    from cuvs_spark.pipeline.sampling import epoch_shuffle
    d = (T(spark, sf_dir, "documents")
         .select(F.col("doc_id").cast("long").alias("doc_id")))
    return epoch_shuffle(d, 3).select("doc_id", "shuffle_rank")


def _pack_greedy(spark, sf_dir):
    """Shard-parallel no-straddle packing (next-fit) over real token
    counts — the padding-aware sibling of pipeline_pack_sequences; the
    DuckDB twin replays the recurrence as a linear recursive CTE."""
    from cuvs_spark.pipeline.sampling import pack_sequences_greedy
    counts = (TX.token_counts(doc_table(spark, sf_dir))
              .select("doc_id", F.col("ws_tokens").alias("n_tokens"),
                      (F.col("doc_id") % 4).alias("shard")))
    return pack_sequences_greedy(counts, 512, key_col="shard")


def _pack_waste(spark, sf_dir):
    """Padding-waste scalar of the next-fit packing — the metric a
    token-budget owner actually reads (VERDICT r6 next #6)."""
    from cuvs_spark.pipeline.sampling import pack_waste
    counts = (TX.token_counts(doc_table(spark, sf_dir))
              .select("doc_id", F.col("ws_tokens").alias("n_tokens"),
                      (F.col("doc_id") % 4).alias("shard")))
    return pack_waste(counts, 512, key_col="shard")


def _cap_per_source(spark, sf_dir):
    """Per-domain cap (at most 100 docs per source, md5-key order) via
    the salted two-level select_k — the skew-proof exact path; the
    rate-threshold variant is the 100 TB shape (pytest-covered)."""
    from cuvs_spark.pipeline.sampling import cap_per_group
    d = (T(spark, sf_dir, "documents")
         .select(F.col("doc_id").cast("long").alias("doc_id"), "source"))
    return cap_per_group(d, 100, group_col="source")


def _cap_per_source_threshold(spark, sf_dir):
    """The rate-threshold cap — the 100 TB shape (per-group counts →
    broadcast keep-rate → map-only md5 filter). Exactly
    SQL-expressible: both engines derive the identical rate from the
    same exact integer operands."""
    from cuvs_spark.pipeline.sampling import cap_per_group
    d = (T(spark, sf_dir, "documents")
         .select(F.col("doc_id").cast("long").alias("doc_id"), "source"))
    return cap_per_group(d, 100, group_col="source", method="threshold")


def _keep_best(spark, sf_dir):
    """Quality-aware dedup keeper: within each exact-text cluster of
    the injected-dup corpus keep the highest-priority copy (originals
    outrank the +100000 mirror ids), not the first occurrence."""
    from cuvs_spark.pipeline.dedup import (H64_SPARK,
                                           keep_best_representative)
    d = _docs_with_dups(spark, sf_dir)
    memb = d.select("doc_id",
                    F.expr(H64_SPARK.format(s="text")).alias("cluster"))
    sc = d.select("doc_id", F.expr(
        "CAST(CASE WHEN doc_id < 100000 THEN 2 ELSE 1 END AS BIGINT)"
    ).alias("score"))
    return keep_best_representative(memb, sc)


def _token_budget(spark, sf_dir):
    """Per-domain token-budget fill (exact prefix-sum path): ~700 of
    each source's ~1300 whitespace tokens survive, chosen in md5-key
    order with the boundary doc kept."""
    from cuvs_spark.pipeline.sampling import token_budget_sample
    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return token_budget_sample(d, 700)


def _token_budget_rate(spark, sf_dir):
    """Map-only rate path of the token budget (the 100 TB shape):
    per-source keep-rate = budget/total over the same md5 rule."""
    from cuvs_spark.pipeline.sampling import token_budget_sample
    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return token_budget_sample(d, 700, method="rate")


def _register_sampling_gates():
    from cuvs_spark.pipeline.dedup import (H64_DUCK,
                                           keep_best_representative_sql)
    from cuvs_spark.pipeline.sampling import (cap_per_group_sql,
                                              cap_per_group_threshold_sql,
                                              deterministic_sample_sql,
                                              hash_split_sql,
                                              pack_sequences_sql)
    register("sample_cap_per_source", _cap_per_source,
             cap_per_group_sql("SELECT doc_id, source FROM documents",
                               100))
    register("sample_cap_per_source_threshold", _cap_per_source_threshold,
             cap_per_group_threshold_sql(
                 "SELECT doc_id, source FROM documents", 100))
    _memb_sql = (f"SELECT doc_id, {H64_DUCK.format(s='text')} AS cluster "
                 f"FROM ({_DOC_DUP_SQL})")
    _score_sql = ("SELECT doc_id, CAST(CASE WHEN doc_id < 100000 THEN 2 "
                  f"ELSE 1 END AS BIGINT) AS score FROM ({_DOC_DUP_SQL})")
    register("dedup_keep_best", _keep_best,
             keep_best_representative_sql(_memb_sql, _score_sql))
    register("sample_deterministic", _sample_det,
             "SELECT doc_id FROM ("
             + deterministic_sample_sql(_DOC_SQL, 0.25).strip() + ")")
    register("sample_hash_split", _hash_split,
             "SELECT doc_id, split FROM ("
             + hash_split_sql(_DOC_SQL,
                              {"train": 0.8, "val": 0.1,
                               "test": 0.1}).strip() + ")")
    counts_sql = ("SELECT doc_id, ws_tokens AS n_tokens, "
                  "doc_id % 4 AS shard FROM ("
                  + TX.token_counts_sql(_DOC_SQL).strip() + ")")
    register("pipeline_pack_sequences", _pack_seqs,
             pack_sequences_sql(counts_sql, 512, key_col="shard"))
    from cuvs_spark.pipeline.sampling import (pack_sequences_greedy_sql,
                                              pack_waste_sql)
    register("pipeline_pack_greedy", _pack_greedy,
             pack_sequences_greedy_sql(counts_sql, 512, key_col="shard"))
    register("pipeline_pack_waste", _pack_waste,
             pack_waste_sql(counts_sql, 512, key_col="shard"))
    from cuvs_spark.pipeline.sampling import epoch_shuffle_sql
    register("sample_epoch_shuffle", _epoch_shuffle,
             "SELECT doc_id, shuffle_rank FROM ("
             + epoch_shuffle_sql("SELECT doc_id FROM documents", 3).strip()
             + ")")
    from cuvs_spark.pipeline.sampling import (token_budget_rate_sql,
                                              token_budget_sample_sql)
    _TB_SQL = "SELECT doc_id, source, text FROM documents"
    register("sample_token_budget", _token_budget,
             token_budget_sample_sql(_TB_SQL, 700))
    register("sample_token_budget_rate", _token_budget_rate,
             token_budget_rate_sql(_TB_SQL, 700))


_register_sampling_gates()


_DOC_SRC_SQL = "SELECT doc_id, text, source FROM documents"
_DOC_LANG_SQL = "SELECT doc_id, text, lang FROM documents"


def _mixture_sample(spark, sf_dir):
    """Domain-mixing gate: three explicit per-source rates + a default,
    so both the CASE ladder and the fallback arm are exercised."""
    from cuvs_spark.pipeline.sampling import mixture_sample
    d = (T(spark, sf_dir, "documents")
         .select(F.col("doc_id").cast("long").alias("doc_id"),
                 "text", "source"))
    return mixture_sample(
        d, {"src0": 0.9, "src1": 0.5, "src2": 0.1},
        default_rate=0.3).select("doc_id", "source")


def _classifier_score(spark, sf_dir):
    """fastText-style linear quality classifier inference over hashed
    unigram+bigram buckets; synthetic fixed-point model (the weight
    table a real exported classifier arrives as)."""
    from cuvs_spark.pipeline.classify import (classifier_score,
                                              synthetic_weights)
    return classifier_score(doc_table(spark, sf_dir),
                            synthetic_weights(spark, 4096),
                            n_buckets=4096, bias_fp=-250000)


def _dsir_importance(spark, sf_dir):
    """DSIR importance weights vs the lang='en' target slice (rational
    mean-likelihood-ratio form — libm-free)."""
    from cuvs_spark.pipeline.classify import dsir_importance
    d = (T(spark, sf_dir, "documents")
         .select(F.col("doc_id").cast("long").alias("doc_id"),
                 "text", "lang"))
    return dsir_importance(d, "lang = 'en'", n_buckets=4096)


def _substring_dedup(spark, sf_dir):
    """Duplicated-substring removal over the injected-dup corpus: exact
    copies lose every window, near copies all shared ones."""
    from cuvs_spark.pipeline.dedup import substring_dedup
    return substring_dedup(_docs_with_dups(spark, sf_dir), window=8)


def _dsir_topk(spark, sf_dir):
    """DSIR selection step: exact top-150 docs by importance weight
    (rank path; the threshold path is the 100 TB shape)."""
    from cuvs_spark.pipeline.classify import dsir_select
    d = (T(spark, sf_dir, "documents")
         .select(F.col("doc_id").cast("long").alias("doc_id"),
                 "text", "lang"))
    return dsir_select(d, "lang = 'en'", n_keep=150, n_buckets=4096)


def _dsir_threshold(spark, sf_dir):
    """The 100 TB DSIR selection shape (``method='threshold'``:
    percentile_approx → plain filter, nothing funnels through one
    partition) gated HARD against the exact rank path: the threshold
    keep-set must contain the exact top-``n_keep`` set and exceed it by
    at most the one boundary element that defines the threshold
    (measured: exactly +1 at gate scale). Clamp pattern of
    ``stats_recall_cagra_vs_exact`` — on any deviation the scalar
    exposes missing-count*1000 + size-delta instead of 1.0."""
    from cuvs_spark.pipeline.classify import dsir_select
    d = (T(spark, sf_dir, "documents")
         .select(F.col("doc_id").cast("long").alias("doc_id"),
                 "text", "lang"))
    thr = dsir_select(d, "lang = 'en'", n_keep=150, n_buckets=4096,
                      method="threshold").select("doc_id")
    rank = dsir_select(d, "lang = 'en'", n_keep=150, n_buckets=4096,
                       method="rank").select("doc_id")
    missing = rank.join(thr, "doc_id", "left_anti") \
        .agg(F.count("*").alias("ms"))
    extra = thr.agg(F.count("*").alias("n"))
    return (missing.crossJoin(extra)
            .select(F.when((F.col("ms") == 0) & (F.col("n") >= 150) &
                           (F.col("n") <= 151), F.lit(1.0))
                    .otherwise(F.col("ms").cast("double") * 1000.0 +
                               F.col("n").cast("double") - 150.0)
                    .alias("thr_rank_pass")))


def _register_classify_gates():
    from cuvs_spark.pipeline.classify import (classifier_score_sql,
                                              dsir_importance_sql)
    from cuvs_spark.pipeline.dedup import substring_dedup_sql
    from cuvs_spark.pipeline.sampling import mixture_sample_sql
    register("sample_mixture", _mixture_sample,
             "SELECT doc_id, source FROM ("
             + mixture_sample_sql(_DOC_SRC_SQL,
                                  {"src0": 0.9, "src1": 0.5, "src2": 0.1},
                                  default_rate=0.3).strip() + ")")
    register("text_classifier_score", _classifier_score,
             classifier_score_sql(_DOC_SQL, n_buckets=4096,
                                  bias_fp=-250000))
    register("text_dsir_importance", _dsir_importance,
             dsir_importance_sql(_DOC_LANG_SQL, "lang = 'en'",
                                 n_buckets=4096))
    from cuvs_spark.pipeline.classify import dsir_select_sql
    register("sample_dsir_topk", _dsir_topk,
             dsir_select_sql(_DOC_LANG_SQL, "lang = 'en'", n_keep=150,
                             n_buckets=4096))
    register("sample_dsir_threshold", _dsir_threshold,
             "SELECT CAST(1.0 AS DOUBLE) AS thr_rank_pass")
    register("dedup_substrings", _substring_dedup,
             substring_dedup_sql(_DOC_DUP_SQL, 8))


_register_classify_gates()


def _bpe_roundtrip(spark, sf_dir):
    """BPE tokenization gate: merges trained on a deterministic sample,
    every doc encoded distributively, and the lossless-roundtrip
    invariant (concat(tokens) == concat(words)) must hold for EVERY
    doc — a hard 1.0-or-red scalar for the iterative op (encoding has
    no SQL twin; exact token parity is pytest-checked in
    tests/test_bpe.py)."""
    from cuvs_spark.pipeline.bpe import bpe_encode, bpe_train_sample
    d = doc_table(spark, sf_dir)
    merges = bpe_train_sample(d, n_merges=60, max_docs=100)
    toks = bpe_encode(d, merges, output="tokens")
    rebuilt = toks.groupBy("doc_id").agg(F.expr(
        "array_join(transform(array_sort(collect_list("
        "struct(pos, token))), x -> x.token), '')").alias("_cat"))
    chk = (d.join(rebuilt, "doc_id", "left")
           .select(F.expr(
               "CASE WHEN coalesce(_cat, '') = "
               "regexp_replace(lower(text), '\\\\s+', '') "
               "THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END")
               .alias("ok")))
    return chk.agg(F.min("ok").alias("roundtrip_pass"))


register("stats_bpe_roundtrip", _bpe_roundtrip,
         "SELECT CAST(1.0 AS DOUBLE) AS roundtrip_pass")


def _decontaminate_semantic(spark, sf_dir):
    """Embedding-space decontamination: eval set = first 10 embedding
    rows; those contaminate themselves at distance 0 and any corpus
    doc within cosine tau of an eval vector is flagged."""
    emb = T(spark, sf_dir, "embeddings")
    return TX.decontaminate_semantic(
        emb, emb.filter(F.col("vec_id") < 10), tau=0.05)


register(
    "text_decontaminate_semantic", _decontaminate_semantic,
    TX.decontaminate_semantic_sql(
        "SELECT vec_id AS i, embedding AS xa FROM embeddings",
        "SELECT vec_id AS j, embedding AS xb FROM embeddings "
        "WHERE vec_id < 10",
        0.05))


def _nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization — both engines implement the same
    normal form, so norm_text hashes must match exactly."""
    return TX.nfc_normalize(doc_table(spark, sf_dir))


register("text_nfc_normalize", _nfc_normalize,
         TX.nfc_normalize_sql(_DOC_SQL))


def _para_dedup(spark, sf_dir):
    """Paragraph-level dedup on synthesized multi-paragraph docs: every
    doc carries one shared boilerplate line — dedup must keep it only
    in the lowest doc_id."""
    from cuvs_spark.pipeline.dedup import paragraph_dedup
    aug = doc_table(spark, sf_dir).withColumn(
        "text", F.expr("concat('SHARED NAV HEADER', '\\n', text, '\\n', "
                       "'footer for doc ', doc_id)"))
    return paragraph_dedup(aug)


def _register_para_gate():
    from cuvs_spark.pipeline.dedup import paragraph_dedup_sql
    register("dedup_paragraphs", _para_dedup, paragraph_dedup_sql(
        "SELECT doc_id, 'SHARED NAV HEADER' || chr(10) || text || chr(10) "
        "|| 'footer for doc ' || doc_id AS text FROM documents"))


_register_para_gate()


def _boilerplate(spark, sf_dir):
    """CCNet-style boilerplate-line removal: a nav header shared by all
    docs and a per-source footer (df = docs-per-source ≥ 3) must be
    dropped from EVERY doc — including the first occurrence, the case
    paragraph_dedup deliberately keeps."""
    from cuvs_spark.pipeline.dedup import boilerplate_lines
    aug = T(spark, sf_dir, "documents").select(
        "doc_id", F.expr("concat('SHARED NAV HEADER', '\\n', text, '\\n', "
                         "'footer for ', source)").alias("text"))
    return boilerplate_lines(aug, min_docs=3)


def _register_boilerplate_gate():
    from cuvs_spark.pipeline.dedup import boilerplate_lines_sql
    register("dedup_boilerplate_lines", _boilerplate, boilerplate_lines_sql(
        "SELECT doc_id, 'SHARED NAV HEADER' || chr(10) || text || chr(10) "
        "|| 'footer for ' || source AS text FROM documents", min_docs=3))


_register_boilerplate_gate()


def _hard_negatives(spark, sf_dir):
    """Contrastive-training mining gate: positives are (q, q+100);
    negatives = top-10 cosine neighbors excluding self + positive."""
    from cuvs_spark.pipeline.dedup import mine_hard_negatives
    d = emb_dataset(spark, sf_dir).select("id", "vec")
    q = emb_queries(spark, sf_dir, 20).select(
        "qid", F.col("qv").alias("vec"))
    pos = q.select("qid", (F.col("qid") + 100).alias("pos_id"))
    return mine_hard_negatives(q, d, pos, 10, metric="cosine")


register("mine_hard_negatives", _hard_negatives,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "cosine",
                   pair_where="d.nid <> q.qid AND d.nid <> q.qid + 100"))


def _decontaminate(spark, sf_dir):
    """Eval-set n-gram decontamination: benchmark = docs 0-4, so those
    five fully self-contaminate and the rest must count 0 unless they
    genuinely share an 8-gram."""
    from cuvs_spark.pipeline.text import decontaminate
    docs = doc_table(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 5).select("text")
    return decontaminate(docs, bench, n=8)


def _register_decontaminate_gate():
    from cuvs_spark.pipeline.text import decontaminate_sql
    register("text_decontaminate", _decontaminate, decontaminate_sql(
        _DOC_SQL, "SELECT doc_id, text FROM documents WHERE doc_id < 5",
        n=8))


_register_decontaminate_gate()


def _semantic_dedup(spark, sf_dir):
    # tau matches dedup_embedding_cosine's near-dup radius — this
    # corpus's embeddings are well separated, so smaller taus flag 0
    return DD.semantic_dedup(T(spark, sf_dir, "embeddings"),
                             n_clusters=8, tau=0.62)


register("dedup_semantic", _semantic_dedup,
         DD.semantic_dedup_sql(8, 0.62))


# --- preprocessing: quantizers, PQ, PCA (SURVEY §2.2) ----------------------
from cuvs_spark.preprocessing import quantize as QZ
from cuvs_spark.preprocessing import pq as PQ

_SQ_LO, _SQ_HI = -0.35, 0.35


def _scalar_quantize(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    p = QZ.ScalarQuantizerParams(_SQ_LO, _SQ_HI)
    out = QZ.scalar_transform(e.select("id", "vec"), p)
    return out.select("id", F.posexplode("codes").alias("dim", "code")) \
              .select(F.col("id"), F.col("dim").cast("long"),
                      F.col("code").cast("long"))


register(
    "preprocess_scalar_quantize", _scalar_quantize,
    f"""
WITH d AS (SELECT vec_id AS id,
  {QZ.scalar_transform_sql('embedding', _SQ_LO, _SQ_HI)} AS codes
  FROM embeddings)
SELECT id, CAST(generate_subscripts(codes, 1) AS BIGINT) - 1 AS dim,
       CAST(unnest(codes) AS BIGINT) AS code
FROM d
""")


def _scalar_roundtrip(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    p = QZ.ScalarQuantizerParams(_SQ_LO, _SQ_HI)
    enc = QZ.scalar_transform(e.select("id", "vec"), p)
    dec = QZ.scalar_inverse_transform(enc, p, out_col="rec")
    return dec.select("id", F.posexplode("rec").alias("dim", "val")) \
              .select("id", F.col("dim").cast("long"), "val")


register(
    "preprocess_scalar_roundtrip", _scalar_roundtrip,
    f"""
WITH d AS (SELECT vec_id AS id,
  {QZ.scalar_transform_sql('embedding', _SQ_LO, _SQ_HI)} AS codes
  FROM embeddings),
r AS (SELECT id, {QZ.scalar_inverse_transform_sql('codes', _SQ_LO, _SQ_HI)} AS rec
      FROM d)
SELECT id, CAST(generate_subscripts(rec, 1) AS BIGINT) - 1 AS dim,
       unnest(rec) AS val
FROM r
""")


def _binary_quantize(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    out = QZ.binary_quantize(e.select("id", "vec"))
    return out.select("id", F.posexplode("bits").alias("byte_idx", "byte")) \
              .select("id", F.col("byte_idx").cast("long"),
                      F.col("byte").cast("long"))


register(
    "preprocess_binary_quantize", _binary_quantize,
    f"""
WITH d AS (SELECT vec_id AS id, {QZ.binary_quantize_sql('embedding')} AS bits
           FROM embeddings)
SELECT id, CAST(generate_subscripts(bits, 1) AS BIGINT) - 1 AS byte_idx,
       CAST(unnest(bits) AS BIGINT) AS byte
FROM d
""")


_PQ_DIM, _PQ_CODES = 8, 16
_PQ_CB_SQL = (
    f"SELECT s.sub AS sub, e.vec_id AS code, "
    f"e.embedding[(s.sub * (len(e.embedding) // {_PQ_DIM}) + 1):"
    f"((s.sub + 1) * (len(e.embedding) // {_PQ_DIM}))] AS centroid "
    f"FROM embeddings e, (SELECT unnest(range({_PQ_DIM})) AS sub) s "
    f"WHERE e.vec_id < {_PQ_CODES}")


def _pq_fixed_codebook(spark, sf_dir):
    from cuvs_spark.preprocessing.pq import _subvecs
    e = emb_dataset(spark, sf_dir)
    return (_subvecs(e.filter(F.col("id") < _PQ_CODES), _PQ_DIM,
                     id_col="id", vec_col="vec")
            .select("sub", F.col("id").cast("int").alias("code"),
                    F.col("subvec").alias("centroid")))


def _pq_transform(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    cb = _pq_fixed_codebook(spark, sf_dir)
    codes = PQ.pq_transform(e.select("id", "vec"), cb)
    return codes.select("id", F.posexplode("codes").alias("sub", "code")) \
                .select("id", F.col("sub").cast("long"),
                        F.col("code").cast("long"))


register(
    "preprocess_pq_transform", _pq_transform,
    f"""
WITH t AS ({PQ.pq_transform_sql(_DA_SQL, _PQ_CB_SQL, _PQ_DIM)})
SELECT id, CAST(generate_subscripts(codes, 1) AS BIGINT) - 1 AS sub,
       CAST(unnest(codes) AS BIGINT) AS code
FROM t
""")


def _pq_roundtrip(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    cb = _pq_fixed_codebook(spark, sf_dir)
    codes = PQ.pq_transform(e.select("id", "vec"), cb)
    dec = PQ.pq_inverse_transform(codes, cb)
    return dec.select("id", F.posexplode("vec").alias("dim", "val")) \
              .select("id", F.col("dim").cast("long"), "val")


register(
    "preprocess_pq_roundtrip", _pq_roundtrip,
    f"""
WITH codes AS ({PQ.pq_transform_sql(_DA_SQL, _PQ_CB_SQL, _PQ_DIM)}),
dec AS ({PQ.pq_inverse_sql("SELECT id, codes FROM codes", _PQ_CB_SQL)})
SELECT id, CAST(generate_subscripts(vec, 1) AS BIGINT) - 1 AS dim,
       unnest(vec) AS val
FROM dec
""")


def _pca_transform_rows(spark, sf_dir):
    """PCA fit is an eigensolve (non-SQL) — rows-only check; accuracy
    vs NumPy asserted in tests/test_preprocessing.py."""
    from cuvs_spark.preprocessing.pca import pca_fit, pca_transform
    e = emb_dataset(spark, sf_dir).select("id", "vec")
    model = pca_fit(e, 8)
    out = pca_transform(e, model)
    return out.select("id", F.posexplode("pc").alias("comp", "val"))


register("preprocess_pca_transform", _pca_transform_rows)  # rows-only


def _pca_power(spark, sf_dir):
    """The eigensolver family's hash-exact path (r12 registration of
    the r11-proven conversion, tests/test_round11.py::
    test_pca_power_fit_matches_unrolled_sql + a 9-run stress):
    fixed-iteration power iteration with Rayleigh deflation over
    ONCE-QUANTIZED exact-integer moments (per-step ROUND is unsafe for
    chained decimal-grid products — see pca.py), vs the unrolled DuckDB
    twin. The at-scale PCA default stays pca_fit (mapInPandas GEMM +
    driver eigh); this is the gate-construction path."""
    from cuvs_spark.preprocessing.pca import pca_power_fit
    return pca_power_fit(emb_dataset(spark, sf_dir), 2, 3)


def _pca_power_oracle():
    from cuvs_spark.preprocessing.pca import pca_power_sql
    return pca_power_sql(_DA_SQL, 2, 3)


register("preprocess_pca_power", _pca_power, _pca_power_oracle())


# --- VQ+PQ composite quantizer (pq.pyx use_vq/vq_n_centers) ----------------
_VQ_K = 8
_VQ_SQL = (f"SELECT CAST(vec_id AS INT) AS vlabel, embedding AS vcent "
           f"FROM embeddings WHERE vec_id < {_VQ_K}")
_VPQ_DONOR_SQL = (f"SELECT vec_id AS id, embedding AS dv FROM embeddings "
                  f"WHERE vec_id >= 100 AND vec_id < {100 + _PQ_CODES}")
# fixed residual codebook: subvectors of the donors' residuals — both
# engines derive it from the same double-exact residual relation, so
# the centroids are bit-identical
_VPQ_CB_SQL = f"""
SELECT s.sub AS sub, CAST(r.id - 100 AS INT) AS code,
       r.dv[(s.sub * (len(r.dv) // {_PQ_DIM}) + 1):
            ((s.sub + 1) * (len(r.dv) // {_PQ_DIM}))] AS centroid
FROM ({{res}}) r, (SELECT unnest(range({_PQ_DIM})) AS sub) s
"""


def _vq_fixed_df(spark, sf_dir):
    return (T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _VQ_K)
            .select(F.col("vec_id").cast("int").alias("vlabel"),
                    F.col("embedding").alias("vcent")))


def _vpq_fixed_codebook(spark, sf_dir):
    from cuvs_spark.preprocessing.pq import _subvecs, vpq_residuals
    donors = (emb_dataset(spark, sf_dir)
              .filter((F.col("id") >= 100) & (F.col("id") < 100 + _PQ_CODES)))
    r = vpq_residuals(donors.select("id", "vec"),
                      _vq_fixed_df(spark, sf_dir))
    return (_subvecs(r, _PQ_DIM, id_col="id", vec_col="rvec")
            .select("sub", (F.col("id") - 100).cast("int").alias("code"),
                    F.col("subvec").alias("centroid")))


def _vpq_cb_sql():
    return _VPQ_CB_SQL.format(res=PQ.vpq_res_sql(_VPQ_DONOR_SQL, _VQ_SQL))


def _vpq_transform(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    out = PQ.vpq_transform(e.select("id", "vec"), None,
                           vq=_vq_fixed_df(spark, sf_dir),
                           codebook=_vpq_fixed_codebook(spark, sf_dir))
    return (out.select("id", F.col("vq_label").cast("long").alias("vq_label"),
                       F.posexplode("codes").alias("sub", "code"))
            .select("id", "vq_label", F.col("sub").cast("long"),
                    F.col("code").cast("long")))


def _vpq_roundtrip(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    vq = _vq_fixed_df(spark, sf_dir)
    cb = _vpq_fixed_codebook(spark, sf_dir)
    codes = PQ.vpq_transform(e.select("id", "vec"), None, vq=vq,
                             codebook=cb)
    dec = PQ.vpq_inverse_transform(codes, None, vq=vq, codebook=cb)
    return (dec.select("id", F.posexplode("vec").alias("dim", "val"))
            .select("id", F.col("dim").cast("long"), "val"))


def _register_vpq():
    register(
        "preprocess_vpq_transform", _vpq_transform,
        f"""
WITH t AS ({PQ.vpq_transform_sql(_DA_SQL, _VQ_SQL, _vpq_cb_sql(), _PQ_DIM)})
SELECT id, CAST(vq_label AS BIGINT) AS vq_label,
       CAST(generate_subscripts(codes, 1) AS BIGINT) - 1 AS sub,
       CAST(unnest(codes) AS BIGINT) AS code
FROM t
""")
    register(
        "preprocess_vpq_roundtrip", _vpq_roundtrip,
        f"""
WITH codes AS ({PQ.vpq_transform_sql(_DA_SQL, _VQ_SQL, _vpq_cb_sql(), _PQ_DIM)}),
dec AS ({PQ.vpq_inverse_sql("SELECT id, vq_label, codes FROM codes",
                            _VQ_SQL, _vpq_cb_sql())})
SELECT id, CAST(generate_subscripts(vec, 1) AS BIGINT) - 1 AS dim,
       unnest(vec) AS val
FROM dec
""")


_register_vpq()


# --- stats: silhouette, trustworthiness, recall (SURVEY §2.6) --------------
from cuvs_spark.stats import metrics as ST

_EMB_LBL_SQL = "SELECT vec_id AS id, embedding AS dv, label FROM embeddings"


def _silhouette_samples(spark, sf_dir):
    e = (T(spark, sf_dir, "embeddings")
         .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"),
                 "label"))
    return ST.silhouette_samples(e)


register("stats_silhouette_samples", _silhouette_samples,
         ST.silhouette_samples_sql(_EMB_LBL_SQL))


def _silhouette_score(spark, sf_dir):
    e = (T(spark, sf_dir, "embeddings")
         .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"),
                 "label"))
    return ST.silhouette_score(e)


register(
    "stats_silhouette_score", _silhouette_score,
    f"SELECT ROUND(avg(sil), 6) AS silhouette FROM ("
    + ST.silhouette_samples_sql(_EMB_LBL_SQL, ndigits=9) + ")")


def _trustworthiness(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    orig = e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    embed = e.select(F.col("vec_id").alias("id"),
                     F.expr("slice(embedding, 1, 8)").alias("vec"))
    return ST.trustworthiness_score(orig, embed, 5)


register(
    "stats_trustworthiness", _trustworthiness,
    ST.trustworthiness_sql(
        "SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id < 200",
        "SELECT vec_id AS id, embedding[1:8] AS v FROM embeddings WHERE vec_id < 200",
        5))


def _eval_recall(spark, sf_dir):
    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    idx = ivf_flat_build(d, _IVF_LISTS,
                         centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS))
    approx = ivf_flat_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")
    exact = knn(d, q, 10, "sqeuclidean", qvec_col="qv")
    return ST.recall_score(approx, exact)


register(
    "stats_recall_ivf_vs_exact", _eval_recall,
    f"""
WITH approx AS ({O.ivf_flat_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL, 10, _IVF_PROBES)}),
exact AS ({O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "sqeuclidean")}),
hits AS (
  SELECT count(*) AS h FROM approx a
  WHERE EXISTS (SELECT 1 FROM exact e
                WHERE e.qid = a.qid AND e.nid = a.nid)
)
SELECT CAST(h AS DOUBLE) / (SELECT count(*) FROM exact) AS recall FROM hits
""")


# --- IVF-PQ / IVF-SQ (SURVEY §2.5): quantized inverted files ---------------
def _ivf_pq_search(spark, sf_dir):
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_pq_build(d, _IVF_LISTS, _PQ_DIM,
                       centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                       codebook=_pq_fixed_codebook(spark, sf_dir))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_pq_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


def _ivf_sq_search(spark, sf_dir):
    from cuvs_spark.operators.ivf_pq import ivf_sq_build, ivf_sq_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_sq_build(d, _IVF_LISTS,
                       centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                       lo=-0.5, hi=0.5)
    q = emb_queries(spark, sf_dir, 20)
    return ivf_sq_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


def _ivf_pq_extend_search(spark, sf_dir):
    """Build on ids ≥ 100, extend with ids < 100, search — with fixed
    centers + codebook this must hash-equal the full-dataset search
    (encoding is row-local, so union-then-build == build-then-extend)."""
    from cuvs_spark.operators.ivf_pq import (ivf_pq_build, ivf_pq_extend,
                                             ivf_pq_search)
    d = emb_dataset(spark, sf_dir)
    idx = ivf_pq_build(d.filter(F.col("id") >= 100), _IVF_LISTS, _PQ_DIM,
                       centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                       codebook=_pq_fixed_codebook(spark, sf_dir))
    idx = ivf_pq_extend(idx, d.filter(F.col("id") < 100))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_pq_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


def _ivf_sq_extend_search(spark, sf_dir):
    from cuvs_spark.operators.ivf_pq import (ivf_sq_build, ivf_sq_extend,
                                             ivf_sq_search)
    d = emb_dataset(spark, sf_dir)
    idx = ivf_sq_build(d.filter(F.col("id") >= 100), _IVF_LISTS,
                       centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                       lo=-0.5, hi=0.5)
    idx = ivf_sq_extend(idx, d.filter(F.col("id") < 100))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_sq_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


def _register_ivf_quantized():
    from cuvs_spark.operators.ivf_pq import (ivf_pq_search_sql,
                                             ivf_sq_search_sql)
    register("ivf_pq_search", _ivf_pq_search,
             ivf_pq_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                               _PQ_CB_SQL, 10, _IVF_PROBES, _PQ_DIM))
    register("ivf_sq_search", _ivf_sq_search,
             ivf_sq_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                               10, _IVF_PROBES, -0.5, 0.5))
    # extend gates share the full-dataset oracles: an extended index
    # must be indistinguishable from one built over the union
    register("ivf_pq_extend_search", _ivf_pq_extend_search,
             ivf_pq_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                               _PQ_CB_SQL, 10, _IVF_PROBES, _PQ_DIM))
    register("ivf_sq_extend_search", _ivf_sq_extend_search,
             ivf_sq_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                               10, _IVF_PROBES, -0.5, 0.5))


_register_ivf_quantized()


def _ivf_sq_search_ip(spark, sf_dir):
    """Driver row for the r12 directional flip ITSELF: a max-close
    quantized search (inner_product IVF-SQ) against the DESC-ranked
    twin. Before r12 this path raised (and pre-guard it would have
    silently returned the WORST k — the hole the r11 audit found)."""
    from cuvs_spark.operators.ivf_pq import ivf_sq_build, ivf_sq_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_sq_build(d, _IVF_LISTS, metric="inner_product",
                       centroids=_fixed_centroids(spark, sf_dir,
                                                  _IVF_LISTS),
                       lo=-0.5, hi=0.5)
    q = emb_queries(spark, sf_dir, 20)
    return ivf_sq_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


def _ivf_pq_search_cosine(spark, sf_dir):
    """Driver row for the r12 cosine PQ surface: both engines
    unit-normalize at entry (identical float32 narrowing), score the
    subspace-dot LUT and report 1 − q̂·x̂ (min-close)."""
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_pq_build(d, _IVF_LISTS, _PQ_DIM, metric="cosine",
                       centroids=_fixed_centroids(spark, sf_dir,
                                                  _IVF_LISTS),
                       codebook=_pq_fixed_codebook(spark, sf_dir))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_pq_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


def _register_ivf_directional():
    from cuvs_spark.operators.ivf_pq import (ivf_pq_search_sql,
                                             ivf_sq_search_sql)
    register("ivf_sq_search_ip", _ivf_sq_search_ip,
             ivf_sq_search_sql(_DA_SQL, _Q_SQL.format(nq=20),
                               _IVF_CENT_SQL, 10, _IVF_PROBES, -0.5, 0.5,
                               metric="inner_product"))
    register("ivf_pq_search_cosine", _ivf_pq_search_cosine,
             ivf_pq_search_sql(_DA_SQL, _Q_SQL.format(nq=20),
                               _IVF_CENT_SQL, _PQ_CB_SQL, 10, _IVF_PROBES,
                               _PQ_DIM, metric="cosine"))


_register_ivf_directional()


# --- kNN graphs: all_neighbors, nn_descent, CAGRA (SURVEY §2.5) ------------
from cuvs_spark.operators import graph as G

_AN_CL, _AN_OV, _AN_K = 8, 2, 8
_AN_CENT_SQL = ("SELECT vec_id AS label, embedding AS cv FROM embeddings "
                f"WHERE vec_id < {_AN_CL}")


def _all_neighbors(spark, sf_dir):
    d = emb_dataset(spark, sf_dir)
    return G.all_neighbors_build(
        d, _AN_K, n_clusters=_AN_CL, overlap_factor=_AN_OV,
        centroids=_fixed_centroids(spark, sf_dir, _AN_CL))


register("all_neighbors_graph", _all_neighbors,
         G.all_neighbors_sql(_DA_SQL, _AN_CENT_SQL, _AN_K, _AN_OV))


def _cagra_optimize(spark, sf_dir):
    from cuvs_spark.operators import knn_self
    d = emb_dataset(spark, sf_dir)
    g = knn_self(d, 12).select(F.col("qid").alias("src"),
                               F.col("nid").alias("dst"), "distance")
    return G.cagra_optimize(g, graph_degree=6)


_KNN_GRAPH_SQL = f"""
SELECT src, dst, distance FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {O.distance_sql_duckdb('sqeuclidean', 'a.embedding', 'b.embedding')} AS distance,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {O.distance_sql_duckdb('sqeuclidean', 'a.embedding', 'b.embedding')} ASC,
                                     b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
) WHERE rn <= 12
"""

register("cagra_optimize", _cagra_optimize,
         G.cagra_optimize_sql(_KNN_GRAPH_SQL, 6))


# (nn_descent_graph — the rows-only NN-Descent smoke — was retired in
# r11 per the r10 verdict #5: its loop body is hash-gated by
# nn_descent_fixed below and its quality by stats_recall_nn_descent +
# tests/test_graph.py::test_nn_descent_recall.)


def _nn_descent_fixed(spark, sf_dir):
    """Fixed-iteration NN-Descent with an EXACT unrolled SQL oracle:
    md5-ranked init both engines compute identically
    (``G.nn_descent_md5_init`` ↔ the init CTE), two
    neighbor-of-neighbor rounds unrolled (``G.nn_descent_sql``), and
    ``termination_threshold=0.0`` so the Spark loop breaks only at a
    fixed point — where further unrolled rounds are no-ops, keeping
    early termination and full unrolling equal. Any divergence in the
    round body (reverse edges, candidate join, distinct, top-k
    reselect) hash-mismatches."""
    d = emb_dataset(spark, sf_dir)
    ig = G.nn_descent_md5_init(d, 6)
    return G.nn_descent_build(d, 6, max_iterations=2,
                              termination_threshold=0.0, init_graph=ig)


register("nn_descent_fixed", _nn_descent_fixed,
         G.nn_descent_sql(_D_SQL, 6, max_iterations=2))


# (cagra_search — the rows-only beam-search smoke — was retired in r11
# per the r10 verdict #5: its loop body is hash-gated by
# cagra_search_beam below and its quality by stats_recall_cagra_vs_exact
# + tests/test_graph.py::test_cagra_search_recall.)


def _cagra_search_beam(spark, sf_dir):
    """Fixed-iteration beam search with an EXACT unrolled SQL oracle —
    the flagship graph-ANN search (``cagra_search.cuh:137``) gated
    value-hash-exact, not just rows-only/recall-clamped: the graph is
    the driver-proven knn_self→cagra_optimize composition, seeds are
    md5-ordered (identical hex on both engines), and the 3 beam rounds
    unroll into CTEs (``G.cagra_search_sql``). Any divergence in
    frontier choice, expansion, anti-join dedup, pool reselection, or
    the expanded-flag bookkeeping hash-mismatches.

    r11: ``stop_on_empty=False`` — the fixed-iteration call drops the
    per-round empty-frontier driver job (r10 verdict #9); an empty
    frontier already makes every remaining round a no-op, so results
    are unchanged (pinned by
    tests/test_round11.py::test_cagra_search_stop_on_empty_same_result
    and the no-isEmpty-job plan test)."""
    from cuvs_spark.operators import knn_self
    d = emb_dataset(spark, sf_dir)
    g = knn_self(d, 12).select(F.col("qid").alias("src"),
                               F.col("nid").alias("dst"), "distance")
    edges = G.cagra_optimize(g, graph_degree=6)
    q = emb_queries(spark, sf_dir, 15)
    seed_ids = (d.select(F.col("id").alias("nid"))
                .orderBy(F.md5(F.col("nid").cast("string")), "nid")
                .limit(8))
    seeds = q.select("qid").crossJoin(F.broadcast(seed_ids))
    return G.cagra_search(edges, d, q, 5, itopk=12, search_width=4,
                          max_iterations=3, qvec_col="qv", seeds=seeds,
                          stop_on_empty=False)


register("cagra_search_beam", _cagra_search_beam,
         G.cagra_search_sql(_D_SQL, _Q_SQL.format(nq=15),
                            G.cagra_optimize_sql(_KNN_GRAPH_SQL, 6),
                            5, itopk=12, search_width=4,
                            max_iterations=3, n_seeds=8))


def _cagra_recall(spark, sf_dir):
    """Beam-search quality as an oracle-backed scalar (the reference's
    universal ANN pass criterion, ``ann_utils.py:130``): recall@10 of
    ``cagra_search`` vs exact kNN, clamped to exactly 1.0 once it
    clears the 0.9 bar so the value is hash-comparable against a
    constant oracle. A sub-bar recall hash-mismatches and exposes the
    actual value — a hard driver-verified quality gate for the
    iterative search that a rows-only entry cannot give."""
    d = emb_dataset(spark, sf_dir)
    graph = G.cagra_build(d, graph_degree=12, n_clusters=4,
                          overlap_factor=2, kmeans_n_iters=4)
    q = emb_queries(spark, sf_dir, 20)
    exact = knn(d, q, 10, "sqeuclidean", qvec_col="qv")
    got = G.cagra_search(graph, d, q, 10, itopk=48, search_width=8,
                         max_iterations=8, qvec_col="qv")
    rec = ST.recall_score(got, exact)
    return rec.select(
        F.when(F.col("recall") >= 0.9, F.lit(1.0))
         .otherwise(F.col("recall")).alias("recall_pass"))


register("stats_recall_cagra_vs_exact", _cagra_recall,
         "SELECT CAST(1.0 AS DOUBLE) AS recall_pass")


# --- sparse CSR ops (SURVEY §2.3/2.5) --------------------------------------
from cuvs_spark.operators import sparse as SP

_SP_THR = 0.25


def _sparse_knn(spark, sf_dir):
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    A = SP.sparsify(d, _SP_THR)
    Q = SP.sparsify(q.withColumnRenamed("qid", "id")
                    .withColumnRenamed("qv", "vec"), _SP_THR) \
        .withColumnRenamed("id", "qid")
    return SP.sparse_knn(
        A.withColumnRenamed("id", "nid").withColumnRenamed("nid", "id")
        if False else A, Q.withColumnRenamed("qid", "id"), 10)


def _sparse_knn_fixed(spark, sf_dir):
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    A = SP.sparsify(d, _SP_THR)
    Q = (SP.sparsify(q.select(F.col("qid").alias("id"),
                              F.col("qv").alias("vec")), _SP_THR))
    out = SP.sparse_knn(A, Q, 10)
    return out


register("sparse_knn", _sparse_knn_fixed,
         SP.sparse_knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, _SP_THR))


def _sparse_knn_cosine(spark, sf_dir):
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    A = SP.sparsify(d, _SP_THR)
    Q = SP.sparsify(q.select(F.col("qid").alias("id"),
                             F.col("qv").alias("vec")), _SP_THR)
    return SP.sparse_knn(A, Q, 10, metric="cosine")


register("sparse_knn_cosine", _sparse_knn_cosine,
         SP.sparse_knn_cosine_sql(_D_SQL, _Q_SQL.format(nq=20), 10,
                                  _SP_THR))


def _sparse_knn_cityblock(spark, sf_dir):
    """Unexpanded-l1 over CSR (reference ``lp_distance.cuh:73``):
    norm folds + collision correction — the union sum without a union
    join."""
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    A = SP.sparsify(d, _SP_THR)
    Q = SP.sparsify(q.select(F.col("qid").alias("id"),
                             F.col("qv").alias("vec")), _SP_THR)
    return SP.sparse_knn(A, Q, 10, metric="cityblock")


register("sparse_knn_cityblock", _sparse_knn_cityblock,
         SP.sparse_knn_cityblock_sql(_D_SQL, _Q_SQL.format(nq=20), 10,
                                     _SP_THR))


def _sparse_pairwise_canberra(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    X = SP.sparsify(e.filter(F.col("id") < 50), _SP_THR)
    return SP.sparse_pairwise_distance(X, metric="canberra")


register("sparse_pairwise_canberra", _sparse_pairwise_canberra,
         SP.sparse_pairwise_canberra_sql(
             "SELECT vec_id AS id, embedding AS v FROM embeddings "
             "WHERE vec_id < 50", _SP_THR))


def _sparse_pairwise_jac(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    X = SP.sparsify(e.filter(F.col("id") < 50), _SP_THR)
    return SP.sparse_pairwise_distance(X, metric="jaccard")


register("sparse_pairwise_jaccard", _sparse_pairwise_jac,
         SP.sparse_pairwise_jaccard_sql(
             "SELECT vec_id AS id, embedding AS v FROM embeddings "
             "WHERE vec_id < 50", _SP_THR))


def _sparse_pairwise_ip(spark, sf_dir):
    e = emb_dataset(spark, sf_dir)
    X = SP.sparsify(e.filter(F.col("id") < 50), _SP_THR)
    out = SP.sparse_pairwise_distance(X, metric="inner_product")
    return out


register(
    "sparse_pairwise_inner_product", _sparse_pairwise_ip,
    f"""
WITH d0 AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id < 50),
sp AS (SELECT id,
  {SP.SPARSIFY_IDX_DUCK.format(v='v', thr=repr(_SP_THR))} AS indices,
  {SP.SPARSIFY_VAL_DUCK.format(v='v', thr=repr(_SP_THR))} AS vals FROM d0),
e AS (SELECT id, unnest(indices) AS dim, CAST(unnest(vals) AS DOUBLE) AS val FROM sp)
SELECT a.id AS i, b.id AS j, ROUND(sum(a.val * b.val), 9) AS distance
FROM e a JOIN e b ON a.dim = b.dim
GROUP BY a.id, b.id
""")


# --- tiered index: ANN tier + delta tier (SURVEY §2.5/2.9) -----------------
def _tiered_search(spark, sf_dir):
    from cuvs_spark.operators.ivf_flat import ivf_flat_build
    from cuvs_spark.operators.tiered import TieredIndex, tiered_extend, tiered_search
    d = emb_dataset(spark, sf_dir)
    old = d.filter(F.col("id") < 400)
    new = d.filter(F.col("id") >= 400)
    ann = ivf_flat_build(old, _IVF_LISTS,
                         centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS))
    idx = TieredIndex(ann=ann,
                      delta=spark.createDataFrame([], "id long, vec array<float>"),
                      min_ann_rows=10**9)
    idx = tiered_extend(idx, new)
    q = emb_queries(spark, sf_dir, 20)
    return tiered_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


register(
    "tiered_search", _tiered_search,
    f"""
WITH ann AS ({O.ivf_flat_search_sql("SELECT vec_id AS id, embedding AS dv FROM embeddings WHERE vec_id < 400", _Q_SQL.format(nq=20), _IVF_CENT_SQL, 10, _IVF_PROBES)}),
delta AS ({O.knn_sql("SELECT vec_id AS nid, embedding AS dv FROM embeddings WHERE vec_id >= 400", _Q_SQL.format(nq=20), 10, "sqeuclidean")}),
merged AS (
  SELECT qid, nid, distance FROM ann
  UNION ALL SELECT qid, nid, distance FROM delta),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance ASC, nid ASC) AS rank
  FROM merged)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= 10
""")


def _tiered_compaction(spark, sf_dir):
    """Two ``tiered_extend`` epochs with the COMPACTION transition gated
    (``tiered_index.hpp:59-65``, ``tiered_index.pyx:326`` semantics):
    epoch 0's batch stays in the delta tier (100 rows < min_ann_rows),
    epoch 1's crosses the bar and folds the delta into the ANN tier
    via ``ivf_flat_extend`` (nearest-frozen-center assignment, so the
    post-compaction inverted file equals a fixed-centroid build over
    the union). Each epoch is searched; the DuckDB twin reproduces
    epoch 0 as ivf(old) ∪ brute-force(delta) merged top-k and epoch 1
    as pure IVF over the full corpus — proven end to end by
    tests/test_round10.py::test_tiered_compaction_two_epoch_composition_matches_sql."""
    from cuvs_spark.operators.ivf_flat import ivf_flat_build
    from cuvs_spark.operators.tiered import (TieredIndex, tiered_extend,
                                             tiered_search)
    d = emb_dataset(spark, sf_dir)
    old = d.filter(F.col("id") < 300)
    ann = ivf_flat_build(old, _IVF_LISTS,
                         centroids=_fixed_centroids(spark, sf_dir,
                                                    _IVF_LISTS))
    idx = TieredIndex(ann=ann,
                      delta=spark.createDataFrame(
                          [], "id long, vec array<float>"),
                      min_ann_rows=150)
    q = emb_queries(spark, sf_dir, 20)
    idx = tiered_extend(idx, d.filter((F.col("id") >= 300)
                                      & (F.col("id") < 400)))
    s0 = tiered_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")
    idx = tiered_extend(idx, d.filter(F.col("id") >= 400))
    s1 = tiered_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")

    def tag(df, e):
        return df.select(F.lit(e).cast("long").alias("epoch"),
                         "qid", "nid", "distance", "rank")

    return tag(s0, 0).unionByName(tag(s1, 1))


_TC_E0 = f"""
WITH ann AS ({O.ivf_flat_search_sql(
    "SELECT vec_id AS id, embedding AS dv FROM embeddings WHERE vec_id < 300",
    _Q_SQL.format(nq=20), _IVF_CENT_SQL, 10, _IVF_PROBES)}),
delta AS ({O.knn_sql(
    "SELECT vec_id AS nid, embedding AS dv FROM embeddings "
    "WHERE vec_id >= 300 AND vec_id < 400",
    _Q_SQL.format(nq=20), 10, "sqeuclidean")}),
merged AS (SELECT qid, nid, distance FROM ann
           UNION ALL SELECT qid, nid, distance FROM delta)
SELECT qid, nid, distance,
       row_number() OVER (PARTITION BY qid
                          ORDER BY distance ASC, nid ASC) AS rank
FROM merged QUALIFY rank <= 10"""
_TC_E1 = O.ivf_flat_search_sql(
    "SELECT vec_id AS id, embedding AS dv FROM embeddings",
    _Q_SQL.format(nq=20), _IVF_CENT_SQL, 10, _IVF_PROBES)

register(
    "tiered_compaction_search", _tiered_compaction,
    f"""
SELECT CAST(0 AS BIGINT) AS epoch, qid, nid, distance, rank FROM ({_TC_E0})
UNION ALL
SELECT CAST(1 AS BIGINT) AS epoch, qid, nid, distance, rank FROM ({_TC_E1})
""")


def _tiered_search_ip(spark, sf_dir):
    """Directional serving COMPOSITION (r12 verdict #6 — the last
    untested direction×composition cell): an inner_product (max-close)
    tiered search — IVF-flat ANN tier over ids<400 + brute-force delta
    over ids>=400 — whose cross-tier ``knn_merge_parts`` merge direction
    is itself under gate, not just the per-index searches. The per-index
    directional flips are r12 gate-proven (ivf_sq_search_ip,
    ivf_pq_search_cosine); the tiered/composite merge direction was only
    unit-tested until now. Oracle: union of the max-close IVF twin and
    the max-close brute-force twin, re-ranked DESC.
    Reference: ``tiered_index.pyx:164,223`` (search fans out to both
    tiers and merges in the index metric's direction)."""
    from cuvs_spark.operators.ivf_flat import ivf_flat_build
    from cuvs_spark.operators.tiered import (TieredIndex, tiered_extend,
                                             tiered_search)
    d = emb_dataset(spark, sf_dir)
    old = d.filter(F.col("id") < 400)
    new = d.filter(F.col("id") >= 400)
    ann = ivf_flat_build(old, _IVF_LISTS, metric="inner_product",
                         centroids=_fixed_centroids(spark, sf_dir,
                                                    _IVF_LISTS))
    idx = TieredIndex(ann=ann,
                      delta=spark.createDataFrame(
                          [], "id long, vec array<float>"),
                      min_ann_rows=10**9, metric="inner_product")
    idx = tiered_extend(idx, new)
    q = emb_queries(spark, sf_dir, 20)
    return tiered_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


register(
    "tiered_search_ip", _tiered_search_ip,
    f"""
WITH ann AS ({O.ivf_flat_search_sql("SELECT vec_id AS id, embedding AS dv FROM embeddings WHERE vec_id < 400", _Q_SQL.format(nq=20), _IVF_CENT_SQL, 10, _IVF_PROBES, metric="inner_product")}),
delta AS ({O.knn_sql("SELECT vec_id AS nid, embedding AS dv FROM embeddings WHERE vec_id >= 400", _Q_SQL.format(nq=20), 10, "inner_product")}),
merged AS (
  SELECT qid, nid, distance FROM ann
  UNION ALL SELECT qid, nid, distance FROM delta),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance DESC, nid ASC) AS rank
  FROM merged)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= 10
""")


def _composite_search_ip(spark, sf_dir):
    """Max-close COMPOSITE serving composition (round 14): the
    ``composite::index`` analog (``cpp/src/neighbors/composite/
    index.cu`` — search every sub-index, merge) had merge-shape and
    mixed-metric-rejection unit tests but no end-to-end driver gate.
    Two IVF-flat sub-indexes over disjoint id halves, BOTH
    inner_product — one registered via its ``dot`` ALIAS, so the r12
    canonical-name metric-homogeneity assert's alias path
    (``tiered.py:102-111``) is driver-gated, not just unit-tested —
    merged through ``knn_merge_parts`` in the max-close direction.
    Oracle: union of the two max-close IVF twins, re-ranked DESC.
    Reference: ``composite/index.cu`` (sub-index fan-out + same-metric
    merge); ``tiered_index.pyx:164,223`` for the merge direction."""
    from cuvs_spark.operators.ivf_flat import ivf_flat_build
    from cuvs_spark.operators.tiered import composite_search
    d = emb_dataset(spark, sf_dir)
    cent = _fixed_centroids(spark, sf_dir, _IVF_LISTS)
    a = ivf_flat_build(d.filter(F.col("id") < 250), _IVF_LISTS,
                       metric="inner_product", centroids=cent)
    b = ivf_flat_build(d.filter(F.col("id") >= 250), _IVF_LISTS,
                       metric="dot", centroids=cent)
    q = emb_queries(spark, sf_dir, 20)
    return composite_search([a, b], q, 10, _IVF_PROBES, qvec_col="qv")


register(
    "composite_search_ip", _composite_search_ip,
    f"""
WITH a AS ({O.ivf_flat_search_sql("SELECT vec_id AS id, embedding AS dv FROM embeddings WHERE vec_id < 250", _Q_SQL.format(nq=20), _IVF_CENT_SQL, 10, _IVF_PROBES, metric="inner_product")}),
b AS ({O.ivf_flat_search_sql("SELECT vec_id AS id, embedding AS dv FROM embeddings WHERE vec_id >= 250", _Q_SQL.format(nq=20), _IVF_CENT_SQL, 10, _IVF_PROBES, metric="inner_product")}),
merged AS (
  SELECT qid, nid, distance FROM a
  UNION ALL SELECT qid, nid, distance FROM b),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance DESC, nid ASC) AS rank
  FROM merged)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= 10
""")


# --- event-time windowed aggregation (streaming surface, batch-checked) ----
def events_table(spark, sf_dir):
    """events.parquet carries TIMESTAMP(NANOS) which Spark's reader
    rejects; read ns-as-long and floor to micros (what DuckDB's view
    does implicitly)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # DuckDB timestamps are naive-UTC; pin the session TZ so
        # collected Spark timestamps render identically regardless of
        # the host session's default
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    ev = T(spark, sf_dir, "events")
    dt = dict(ev.dtypes).get("ts")
    if dt == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dt == "timestamp_ntz":
        # nanosAsLong didn't take (static conf): the reader yields NTZ,
        # which Spark 4 refuses to cast to double downstream. NTZ→LTZ
        # under the pinned UTC session tz is wall-time identity.
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def _events_windowed(spark, sf_dir):
    from cuvs_spark.streaming import windowed_event_counts
    return windowed_event_counts(events_table(spark, sf_dir), window="1 hour")


register(
    "events_windowed_counts", _events_windowed,
    """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type, CAST(count(*) AS BIGINT) AS n,
       ROUND(CAST(sum(value) AS DOUBLE), 6) AS total_value
FROM events GROUP BY 1, 2, 3
""")


def _events_sessionize(spark, sf_dir):
    """Sessionization: window lag + gap>30min cumsum (§2.7 window
    surface; integer session ids → oracle-exact)."""
    from pyspark.sql import Window as W
    ev = events_table(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts").cast("double")
           - F.lag(F.col("ts").cast("double")).over(w))
    flag = F.when(gap.isNull() | (gap <= 1800.0), 0).otherwise(1)
    return (ev.withColumn("_f", flag)
            .withColumn("session_id",
                        F.sum("_f").over(w.rowsBetween(W.unboundedPreceding, 0))
                        .cast("long"))
            .select("user_id", "event_id", "session_id"))


register(
    "events_sessionize", _events_sessionize,
    """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) <= 1800.0
              THEN 0 ELSE 1 END AS f
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(sum(f) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM g
""")


# --- temporal joins (events): as-of + bounded range ------------------------
def _events_asof(spark, sf_dir):
    """Each event attaches the latest same-user click at or before it
    (tolerance 1 h); DuckDB's native ASOF JOIN is the oracle. Right
    side pre-aggregates to unique (user_id, ts) so exact-tie winners
    are engine-independent."""
    from cuvs_spark.operators.temporal import asof_join
    ev = events_table(spark, sf_dir)
    left = ev.select("event_id", "user_id", "ts", "value")
    right = (ev.filter(F.col("event_type") == "click")
               .groupBy("user_id", "ts")
               .agg(F.max("value").alias("click_value")))
    out = asof_join(left, right, on="ts", by="user_id", tolerance=3600.0)
    # null-free projection: the harness float compare treats NaN != NaN,
    # so unmatched rows surface as a -1 sentinel on both engines
    return out.select(
        "event_id", "user_id",
        F.coalesce(F.col("r_ts").cast("double"), F.lit(-1.0))
         .alias("asof_ts"),
        F.coalesce("r_click_value", F.lit(-1.0)).alias("click_value"))


def _register_temporal_gates():
    from cuvs_spark.operators.temporal import (asof_join_sql,
                                               range_self_join_sql)
    register(
        "events_asof_join", _events_asof,
        "SELECT event_id, user_id, "
        "COALESCE(epoch(r_ts), -1.0) AS asof_ts, "
        "COALESCE(r_click_value, -1.0) AS click_value "
        "FROM (" + asof_join_sql(
            "SELECT event_id, user_id, ts, value FROM events",
            "SELECT user_id, ts, max(value) AS click_value FROM events "
            "WHERE event_type = 'click' GROUP BY user_id, ts",
            on="ts", by="user_id", tolerance=3600.0,
            left_cols=["event_id", "user_id", "ts", "value"],
            right_cols=["click_value"]).strip() + ")")

    register(
        "events_range_join", _events_range,
        range_self_join_sql("SELECT event_id, user_id, ts FROM events",
                            by="user_id", max_dt=300.0))


def _events_range(spark, sf_dir):
    """Same-user event pairs within 5 minutes — bucketed band join
    (3-bucket candidates, no per-key cartesian)."""
    from cuvs_spark.operators.temporal import range_self_join
    ev = events_table(spark, sf_dir).select("event_id", "user_id", "ts")
    return range_self_join(ev, by="user_id", max_dt=300.0)


_register_temporal_gates()


# --- agglomerative clustering + CAGRA merge (SURVEY §2.6/2.8) -------------
def _single_linkage(spark, sf_dir):
    """kNN-graph single-linkage, value-hash-exact since r12 (the r11
    rows-only → hash-exact conversion, tests/test_round11.py::
    test_single_linkage_matches_recursive_kruskal_sql): at gate scale
    (n ≤ finish_components) the operator is exactly Kruskal over the
    directed kNN edges in (distance, src, dst) order with an
    early-stopped cut, and the twin reproduces that as one recursive
    CTE carrying a flat union-find. filter(id < 200), NOT limit(200) —
    limit is order-nondeterministic. NumPy exactness still pinned in
    tests/test_agglomerative.py."""
    from cuvs_spark.cluster.agglomerative import single_linkage
    d = emb_dataset(spark, sf_dir).filter(F.col("id") < 200)
    return single_linkage(d, n_clusters=10, k=10)


def _single_linkage_oracle():
    from cuvs_spark.cluster.agglomerative import single_linkage_sql
    return single_linkage_sql(
        "SELECT vec_id AS nid, embedding AS dv FROM embeddings "
        "WHERE vec_id < 200",
        "SELECT vec_id AS qid, embedding AS qv FROM embeddings "
        "WHERE vec_id < 200",
        10, 10, n_rows=200)


register("agglomerative_single_linkage", _single_linkage,
         _single_linkage_oracle())


def _mutual_reachability(spark, sf_dir):
    from cuvs_spark.cluster.agglomerative import mutual_reachability_graph
    d = emb_dataset(spark, sf_dir).filter(F.col("id") < 150)
    return mutual_reachability_graph(d, k=5, metric="sqeuclidean")


_MR_K = 5
_MR_G = O.knn_sql(
    "SELECT vec_id AS nid, embedding AS dv FROM embeddings WHERE vec_id < 150",
    "SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 150",
    _MR_K, "sqeuclidean", pair_where="q.qid <> d.nid")

register("agglomerative_mutual_reachability", _mutual_reachability, f"""
WITH g AS ({_MR_G}),
core AS (SELECT qid AS id, distance AS core FROM g WHERE rank = {_MR_K})
SELECT g.qid AS src, g.nid AS dst,
       greatest(g.distance, ca.core, cb.core) AS mr_dist
FROM g JOIN core ca ON g.qid = ca.id JOIN core cb ON g.nid = cb.id
""")


def _cagra_merge(spark, sf_dir):
    from cuvs_spark.operators import knn_self
    from cuvs_spark.operators.graph import cagra_merge
    d = emb_dataset(spark, sf_dir)
    g = knn_self(d, 12).select(F.col("qid").alias("src"),
                               F.col("nid").alias("dst"), "distance")
    parts = [g.filter(F.col("src") % 2 == m) for m in (0, 1)]
    return cagra_merge(parts, graph_degree=6)


register("cagra_merge", _cagra_merge,
         G.cagra_optimize_sql(_KNN_GRAPH_SQL, 6))


# --- CustomUDF metric + spectral (SURVEY §2.10 / §2.2 / §2.6) --------------
def _knn_udf(spark, sf_dir):
    """CustomUDF distance (pandas-UDF escape hatch); ids+rank output —
    NumPy's pairwise-summed floats aren't bit-reproducible, ordering
    is."""
    from cuvs_spark.operators.brute_force import knn_udf_metric
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)

    def sq(A, B):
        return ((A - B) ** 2).sum(1)

    return knn_udf_metric(d, q, 10, sq, qvec_col="qv").drop("distance")


register("knn_custom_udf_metric", _knn_udf,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "sqeuclidean",
                   with_distance=False))


def _spectral_predict(spark, sf_dir):
    """Driver-side eigensolve (non-SQL) — rows-only; blob recovery
    asserted in tests/test_udf_spectral.py."""
    from cuvs_spark.cluster.spectral import spectral_fit_predict
    d = emb_dataset(spark, sf_dir).limit(150)
    return spectral_fit_predict(d, 5, k=10, n_init=1, max_iter=8)


register("spectral_fit_predict", _spectral_predict)  # rows-only


def _spectral_power(spark, sf_dir):
    """The spectral half of the eigensolver family's hash-exact path
    (r12 registration of the r11-proven conversion,
    tests/test_round11.py::test_spectral_power_embed_matches_unrolled_sql
    + the two-blob Fiedler sanity test): fixed-iteration power
    iteration on M = I + D^{-1/2}AD^{-1/2} of the kNN connectivity
    graph, EXACT Gram–Schmidt deflation against the ANALYTIC trivial
    vector D^{1/2}·1, exact integer state end to end (eps=0 +
    connected-graph assumption documented in spectral.py). The at-scale
    default stays spectral_embedding; this is the gate-construction
    path."""
    from cuvs_spark.cluster.spectral import spectral_power_embed
    from cuvs_spark.operators import knn_self
    d = emb_dataset(spark, sf_dir)
    g = knn_self(d, 8).select(F.col("qid").alias("src"),
                              F.col("nid").alias("dst"))
    return spectral_power_embed(g, 2, 3)


def _spectral_power_oracle():
    from cuvs_spark.cluster.spectral import spectral_power_sql
    dist = O.distance_sql_duckdb("sqeuclidean", "a.embedding",
                                 "b.embedding")
    edges_sql = f"""
SELECT src, dst FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {dist} ASC, b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
) WHERE rn <= 8"""
    return spectral_power_sql(edges_sql, 2, 3)


register("spectral_power_embed", _spectral_power,
         _spectral_power_oracle())


# --- remaining metric family + Gram matrices (SURVEY §2.3) -----------------
def _knn_bitwise_hamming(spark, sf_dir):
    """BitwiseHamming over binary-quantized codes — integer distances,
    exact parity (distance.pyx:38 binary-packed uint8 path)."""
    e = emb_dataset(spark, sf_dir)
    bits = QZ.binary_quantize(e.select("id", "vec")).select("id", "bits")
    q = (QZ.binary_quantize(
        emb_queries(spark, sf_dir, 20).select(F.col("qid").alias("id"),
                                              F.col("qv").alias("vec")))
        .select(F.col("id").alias("qid"), F.col("bits").alias("qbits")))
    return knn(bits, q, 10, "bitwise_hamming", vec_col="bits",
               qvec_col="qbits")


register(
    "knn_bitwise_hamming", _knn_bitwise_hamming,
    O.knn_sql(
        f"SELECT vec_id AS nid, {QZ.binary_quantize_sql('embedding')} AS dv "
        f"FROM embeddings",
        f"SELECT vec_id AS qid, {QZ.binary_quantize_sql('embedding')} AS qv "
        f"FROM embeddings WHERE vec_id < 20",
        10, "bitwise_hamming"))


def _knn_minkowski(spark, sf_dir):
    """Minkowski p=3 — pow() is not correctly rounded across libms, so
    the gate compares ids+rank only (ordering is stable)."""
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    return knn(d, q, 10, "minkowski", qvec_col="qv", minkowski_p=3.0,
               with_distance=False)


register("knn_minkowski_p3", _knn_minkowski,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "minkowski",
                   with_distance=False, p=3.0))


def _pairwise_haversine(spark, sf_dir):
    """Haversine over 2-d (lat, lon) radians derived from the first two
    embedding dims; asin/sin differ in ulps across libms → ids-only
    would be meaningless for a full matrix, so round to 9 dp."""
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    X = e.select(F.col("vec_id").alias("id"),
                 F.expr("slice(embedding, 1, 2)").alias("vec"))
    out = pairwise_distance(X, None, "haversine")
    return out.select("i", "j", F.round("distance", 9).alias("distance"))


register(
    "pairwise_haversine", _pairwise_haversine,
    f"""
WITH a AS (SELECT vec_id AS i, embedding[1:2] AS xa FROM embeddings WHERE vec_id < 40),
b AS (SELECT vec_id AS j, embedding[1:2] AS xb FROM embeddings WHERE vec_id < 40)
SELECT a.i AS i, b.j AS j,
       ROUND({O.distance_sql_duckdb('haversine', 'a.xa', 'b.xb')}, 9) AS distance
FROM a CROSS JOIN b
""")


def _gram(kernel, ndigits):
    def fn(spark, sf_dir, kernel=kernel, ndigits=ndigits):
        from cuvs_spark.operators.kernels import gram_matrix
        e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
        X = e.select(F.col("vec_id").alias("id"),
                     F.col("embedding").alias("vec"))
        return gram_matrix(X, None, kernel, gamma=0.5, ndigits=ndigits)
    from cuvs_spark.operators.kernels import gram_matrix_sql
    sub_a = "SELECT vec_id AS i, embedding AS xa FROM embeddings WHERE vec_id < 40"
    sub_b = "SELECT vec_id AS j, embedding AS xb FROM embeddings WHERE vec_id < 40"
    return fn, gram_matrix_sql(sub_a, sub_b, kernel, gamma=0.5,
                               ndigits=ndigits)


# polynomial is registered with ndigits=None: the integer-degree kernel is
# now a pure product fold (see kernels._kernel_expr) and therefore bit-exact
# across engines like linear — no rounding knife-edge left to hit.
for _kern, _nd in [("linear", None), ("rbf", 9), ("polynomial", None),
                   ("tanh", 9)]:
    _fn, _sql = _gram(_kern, _nd)
    register(f"gram_{_kern}", _fn, _sql)


# --- near-dup canonicalization: ANN pairs → connected components -----------
def _dedup_components(spark, sf_dir):
    pairs = DD.minhash_lsh_pairs(_docs_with_dups(spark, sf_dir),
                                 jaccard_threshold=0.5)
    return DD.connected_components(pairs)


register(
    "dedup_connected_components", _dedup_components,
    DD.connected_components_sql(
        "SELECT doc_a, doc_b FROM ("
        + DD.minhash_lsh_pairs_sql(_DOC_DUP_SQL, 0.5) + ")"))


# --- ln-based metrics (jensenshannon / kl): round-9 absorbs libm ulps ------
def _knn_lnmetric(metric):
    def fn(spark, sf_dir, metric=metric):
        d = emb_dataset(spark, sf_dir)
        q = emb_queries(spark, sf_dir, 20)
        d = d.withColumn("vec", F.expr(_PROB_SPARK.format(col="vec")))
        q = q.withColumn("qv", F.expr(_PROB_SPARK.format(col="qv")))
        out = knn(d, q, 10, metric, qvec_col="qv")
        return out.select("qid", "nid", F.round("distance", 9).alias("distance"),
                          "rank")
    d_sql = (f"SELECT vec_id AS nid, {_PROB.format(col='embedding')} AS dv "
             f"FROM embeddings")
    q_sql = (f"SELECT vec_id AS qid, {_PROB.format(col='embedding')} AS qv "
             f"FROM embeddings WHERE vec_id < 20")
    sql = f"""
SELECT qid, nid, ROUND(distance, 9) AS distance, rank FROM (
{O.knn_sql(d_sql, q_sql, 10, metric)}
)"""
    return fn, sql


for _metric in ["jensenshannon", "kl_divergence"]:
    _fn, _sql = _knn_lnmetric(_metric)
    register(f"knn_bf_{_metric}", _fn, _sql)


def _ivf_trained(spark, sf_dir):
    """Trained coarse quantizer end to end, value-hash-exact since r12
    (the r11 rows-only → hash-exact conversion,
    tests/test_round11.py::test_ivf_trained_search_matches_composed_sql):
    a reproducible chained-Lloyd fit (fixed init, tol=0, expr updates,
    per-iteration centroid_round — the driver-proven
    kmeans_fit_centroids recipe) feeds ivf_flat_build/search; the twin
    composes O.kmeans_fit_cent_sql into O.ivf_flat_search_sql as a
    trained cent_sql. The float32 narrowing of the chained-Lloyd
    centroid table is the load-bearing detail (the Spark operators hand
    centroids through array<float>); recall floor still asserted in
    tests/test_kmeans_ivf.py."""
    from cuvs_spark.cluster import kmeans_fit
    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
    d = emb_dataset(spark, sf_dir)
    model = kmeans_fit(d, _IVF_LISTS, max_iter=2, tol=0.0,
                       init=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                       update_method="expr", centroid_round=6)
    idx = ivf_flat_build(d, _IVF_LISTS, centroids=model.centroids)
    q = emb_queries(spark, sf_dir, 20)
    return ivf_flat_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


_IVF_TRAINED_CENT_SQL = O.kmeans_fit_cent_sql(
    _DA_SQL,
    f"SELECT vec_id AS label, embedding AS cv FROM embeddings "
    f"WHERE vec_id < {_IVF_LISTS}", 2)

register("ivf_flat_search_trained", _ivf_trained,
         O.ivf_flat_search_sql(_DA_SQL, _Q_SQL.format(nq=20),
                               _IVF_TRAINED_CENT_SQL, 10, _IVF_PROBES))


# --- §3.3 quality-tiered pipeline: IVF-PQ candidates → exact refine --------
def _ivf_pq_refined(spark, sf_dir):
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_pq_build(d, _IVF_LISTS, _PQ_DIM,
                       centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                       codebook=_pq_fixed_codebook(spark, sf_dir))
    q = emb_queries(spark, sf_dir, 20)
    cand = ivf_pq_search(idx, q, 30, _IVF_PROBES, qvec_col="qv") \
        .select("qid", F.col("nid").alias("id"))
    return refine(d, q, cand, 10, "sqeuclidean", qvec_col="qv")


def _register_pq_refined():
    from cuvs_spark.operators.ivf_pq import ivf_pq_search_sql
    inner = ivf_pq_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                              _PQ_CB_SQL, 30, _IVF_PROBES, _PQ_DIM)
    sql = f"""
WITH cand AS ({inner}),
d AS ({_D_SQL}), q AS ({_Q_SQL.format(nq=20)}),
exact AS (
  SELECT c.qid AS qid, c.nid AS nid,
         {O.distance_sql_duckdb('sqeuclidean', 'q.qv', 'd.dv')} AS distance
  FROM cand c JOIN d ON d.nid = c.nid JOIN q ON q.qid = c.qid),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance ASC, nid ASC) AS rank
  FROM exact)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= 10
"""
    register("ivf_pq_search_refined", _ivf_pq_refined, sql)


_register_pq_refined()


# --- IVF-BQ: IVF + sign-bit codes (rabitq-style 1-bit path) ----------------
def _ivf_bq_search(spark, sf_dir):
    from cuvs_spark.operators.ivf_pq import ivf_bq_build, ivf_bq_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_bq_build(d, _IVF_LISTS,
                       centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_bq_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


def _register_ivf_bq():
    from cuvs_spark.operators.ivf_pq import ivf_bq_search_sql
    register("ivf_bq_search", _ivf_bq_search,
             ivf_bq_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                               10, _IVF_PROBES))


_register_ivf_bq()


# --- end-to-end corpus curation (composition of oracle-checked stages) -----
def _curate(spark, sf_dir):
    from cuvs_spark.pipeline.curate import curate_corpus
    return curate_corpus(_docs_with_dups(spark, sf_dir),
                         min_tokens=10, max_punct_ratio=0.2,
                         langs=("en", "und"), near_dup_jaccard=0.8)


def _curate_oracle(gopher: bool = False, rules: bool = False,
                   novelty: float | None = None):
    # flat CTE chain: every stage is a NAMED cte referenced by name, not
    # re-nested text — textual nesting made the query tree (and DuckDB's
    # runtime) exponential in pipeline stages (measured 330 s vs 3 s)
    head = f"""
WITH s0 AS MATERIALIZED ({_DOC_DUP_SQL}),
q AS MATERIALIZED ({TX.quality_score_sql("SELECT doc_id, text FROM s0")}),
badq AS MATERIALIZED (SELECT doc_id, 'quality' AS stage FROM q
         WHERE n_tokens < 10 OR punct_ratio > 0.2),
s1 AS MATERIALIZED (SELECT doc_id, text FROM s0
       WHERE doc_id NOT IN (SELECT doc_id FROM badq)),
lid AS MATERIALIZED ({TX.language_id_sql("SELECT doc_id, text FROM s1")}),
badl AS MATERIALIZED (SELECT doc_id, 'lang' AS stage FROM lid
         WHERE pred_lang NOT IN ('en', 'und')),
s2 AS MATERIALIZED (SELECT doc_id, text FROM s1
       WHERE doc_id NOT IN (SELECT doc_id FROM badl)),
"""
    rep_union = ""
    if gopher:
        head += f"""rep AS MATERIALIZED ({TX.repetition_stats_sql(
            "SELECT doc_id, text FROM s2")}),
badr AS MATERIALIZED (SELECT doc_id, 'repetition' AS stage FROM rep
         WHERE dup_word_frac > 0.6 OR top_bigram_frac > 0.06),
s2f AS MATERIALIZED (SELECT doc_id, text FROM s2
        WHERE doc_id NOT IN (SELECT doc_id FROM badr)),
"""
        rep_union = "UNION ALL SELECT doc_id, stage FROM badr\n"
    else:
        head += "s2f AS MATERIALIZED (SELECT doc_id, text FROM s2),\n"
    if rules:
        head += f"""gq AS MATERIALIZED ({TX.gopher_quality_sql(
            "SELECT doc_id, text FROM s2f")}),
badg AS MATERIALIZED (SELECT doc_id, 'gopher_rules' AS stage FROM gq
         WHERE gopher_keep = 0),
s2g AS MATERIALIZED (SELECT doc_id, text FROM s2f
        WHERE doc_id NOT IN (SELECT doc_id FROM badg)),
"""
        rep_union += "UNION ALL SELECT doc_id, stage FROM badg\n"
    else:
        head += "s2g AS MATERIALIZED (SELECT doc_id, text FROM s2f),\n"
    head += f"""grp AS MATERIALIZED ({DD.exact_dedup_sql(
        "SELECT doc_id, text FROM s2g")}),
bade AS MATERIALIZED (SELECT doc_id, 'exact_dup' AS stage FROM s2g
         WHERE doc_id NOT IN (SELECT canonical_id FROM grp)),
s3 AS MATERIALIZED (SELECT doc_id, text FROM s2g
       WHERE doc_id IN (SELECT canonical_id FROM grp)),
mh AS MATERIALIZED ({DD.minhash_lsh_pairs_sql("SELECT doc_id, text FROM s3", 0.8)}),
comp AS MATERIALIZED ({DD.connected_components_sql("SELECT doc_a, doc_b FROM mh")}),
badn AS MATERIALIZED (SELECT doc_id, 'near_dup' AS stage FROM comp
         WHERE doc_id <> canonical_id),
s4 AS MATERIALIZED (SELECT doc_id, text FROM s3
       WHERE doc_id NOT IN (SELECT doc_id FROM badn)),
"""
    nov_union = ""
    if novelty is not None:
        head += f"""nov AS MATERIALIZED ({TX.ngram_novelty_sql(
            "SELECT doc_id, text FROM s4", 3)}),
badv AS MATERIALIZED (SELECT doc_id, 'novelty' AS stage FROM nov
         WHERE novelty_frac < {novelty!r}),
kept AS MATERIALIZED (SELECT doc_id, 'kept' AS stage FROM s4
         WHERE doc_id NOT IN (SELECT doc_id FROM badv))
"""
        nov_union = "UNION ALL SELECT doc_id, stage FROM badv\n"
    else:
        head += """kept AS MATERIALIZED (SELECT doc_id, 'kept' AS stage
         FROM s4)
"""
    return head + f"""SELECT doc_id, stage FROM badq
UNION ALL SELECT doc_id, stage FROM badl
{rep_union}UNION ALL SELECT doc_id, stage FROM bade
UNION ALL SELECT doc_id, stage FROM badn
{nov_union}UNION ALL SELECT doc_id, stage FROM kept
"""


register("pipeline_curate_corpus", _curate, _curate_oracle())


def _curate_gopher(spark, sf_dir):
    from cuvs_spark.pipeline.curate import curate_corpus
    return curate_corpus(_docs_with_dups(spark, sf_dir),
                         min_tokens=10, max_punct_ratio=0.2,
                         langs=("en", "und"), near_dup_jaccard=0.8,
                         max_dup_word_frac=0.6, max_top_bigram_frac=0.06)


register("pipeline_curate_gopher", _curate_gopher, _curate_oracle(gopher=True))


def _curate_gopher_rules(spark, sf_dir):
    """curate_corpus with the full Gopher quality-rule stage (published
    default thresholds) between the lang filter and dedup."""
    from cuvs_spark.pipeline.curate import curate_corpus
    return curate_corpus(_docs_with_dups(spark, sf_dir),
                         min_tokens=10, max_punct_ratio=0.2,
                         langs=("en", "und"), near_dup_jaccard=0.8,
                         gopher_rules={})


register("pipeline_curate_gopher_rules", _curate_gopher_rules,
         _curate_oracle(rules=True))


def _curate_novelty(spark, sf_dir):
    """curate_corpus with the post-dedup n-gram-novelty stage: docs
    whose 3-gram novelty over the SURVIVING corpus falls below 0.3
    (≈ the 20th percentile at gate scale) are staged 'novelty'."""
    from cuvs_spark.pipeline.curate import curate_corpus
    return curate_corpus(_docs_with_dups(spark, sf_dir),
                         min_tokens=10, max_punct_ratio=0.2,
                         langs=("en", "und"), near_dup_jaccard=0.8,
                         min_novelty=0.3)


register("pipeline_curate_novelty", _curate_novelty,
         _curate_oracle(novelty=0.3))


def _curate_semantic(spark, sf_dir):
    from cuvs_spark.pipeline.curate import curate_with_semantic
    return curate_with_semantic(
        _docs_with_dups(spark, sf_dir), T(spark, sf_dir, "embeddings"),
        n_clusters=8, tau=0.62,
        min_tokens=10, max_punct_ratio=0.2,
        langs=("en", "und"), near_dup_jaccard=0.8)


def _curate_semantic_oracle():
    sem = DD.semantic_dedup_sql(
        8, 0.62,
        emb_sql="SELECT vec_id AS id, embedding AS vec FROM embeddings "
                "WHERE vec_id IN (SELECT doc_id FROM curk)")
    return f"""
WITH cur AS MATERIALIZED ({_curate_oracle()}),
curk AS MATERIALIZED (SELECT doc_id FROM cur WHERE stage = 'kept'),
sem AS MATERIALIZED ({sem})
SELECT cur.doc_id,
       CASE WHEN cur.stage = 'kept' AND s.is_dup THEN 'semantic_dup'
            ELSE cur.stage END AS stage
FROM cur LEFT JOIN sem s ON cur.doc_id = s.id
"""


register("pipeline_curate_semantic", _curate_semantic,
         _curate_semantic_oracle())


def _curate_stats(spark, sf_dir):
    from cuvs_spark.pipeline.curate import curate_stats
    return curate_stats(_curate(spark, sf_dir))


register(
    "pipeline_curate_stats", _curate_stats,
    f"SELECT stage, CAST(count(*) AS BIGINT) AS n FROM ({_curate_oracle()}) "
    f"GROUP BY stage")


# --- ScaNN: SOAR-partitioned tree + residual PQ (SURVEY §2.5) -------------
def _scann_soar(spark, sf_dir):
    from cuvs_spark.operators.scann import soar_labels
    d = emb_dataset(spark, sf_dir)
    return soar_labels(d, _fixed_centroids(spark, sf_dir, _IVF_LISTS))


def _register_scann():
    from cuvs_spark.operators.scann import (scann_search_pq_sql,
                                            scann_search_sql,
                                            soar_labels_sql)
    register("scann_soar_labels", _scann_soar,
             soar_labels_sql(_DA_SQL, _IVF_CENT_SQL))
    register("scann_search_reorder", _scann_reorder,
             scann_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                              10, _IVF_PROBES))
    register("scann_search_pq", _scann_pq,
             scann_search_pq_sql(_DA_SQL, _Q_SQL.format(nq=20),
                                 _IVF_CENT_SQL, _PQ_CB_SQL, 10, _IVF_PROBES,
                                 _PQ_DIM))


def _scann_reorder(spark, sf_dir):
    from cuvs_spark.operators.scann import scann_build, scann_search
    d = emb_dataset(spark, sf_dir)
    idx = scann_build(d, _IVF_LISTS,
                      centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS))
    q = emb_queries(spark, sf_dir, 20)
    return scann_search(idx, q, 10, _IVF_PROBES, qvec_col="qv",
                        method="reorder")


def _scann_pq(spark, sf_dir):
    from cuvs_spark.operators.scann import scann_build, scann_search
    d = emb_dataset(spark, sf_dir)
    idx = scann_build(d, _IVF_LISTS, pq_dim=_PQ_DIM,
                      centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                      codebook=_pq_fixed_codebook(spark, sf_dir))
    q = emb_queries(spark, sf_dir, 20)
    return scann_search(idx, q, 10, _IVF_PROBES, qvec_col="qv", method="pq")


_register_scann()


# --- Vamana (DiskANN) build: alpha-robust prune (SURVEY §2.5) --------------
def _vamana_build(spark, sf_dir):
    from cuvs_spark.operators.vamana import vamana_build
    d = emb_dataset(spark, sf_dir)
    return vamana_build(d, 8, visited_size=16, n_clusters=_AN_CL,
                        overlap_factor=_AN_OV,
                        centroids=_fixed_centroids(spark, sf_dir, _AN_CL))


def _register_vamana():
    from cuvs_spark.operators.vamana import vamana_build_sql
    register("vamana_build", _vamana_build,
             vamana_build_sql(_DA_SQL, _AN_CENT_SQL, 8, visited_size=16,
                              overlap_factor=_AN_OV))


_register_vamana()


# --- IVF-RaBitQ: multi-bit extended-rabitq codes (SURVEY §2.5) -------------
def _ivf_rabitq(spark, sf_dir):
    from cuvs_spark.operators.ivf_rabitq import (ivf_rabitq_build,
                                                 ivf_rabitq_search)
    d = emb_dataset(spark, sf_dir)
    idx = ivf_rabitq_build(d, _IVF_LISTS, bits_per_dim=3,
                           centroids=_fixed_centroids(spark, sf_dir,
                                                      _IVF_LISTS))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_rabitq_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


def _register_ivf_rabitq():
    from cuvs_spark.operators.ivf_rabitq import ivf_rabitq_search_sql
    register("ivf_rabitq_search", _ivf_rabitq,
             ivf_rabitq_search_sql(_DA_SQL, _Q_SQL.format(nq=20),
                                   _IVF_CENT_SQL, 10, _IVF_PROBES, 3))


_register_ivf_rabitq()


# --- CAGRA extend: splice a batch into a built graph (hash-exact) ----------
# (cagra_extend_graph — the rows-only extend smoke — was retired in r11
# per the r10 verdict #5: the full splice composition is hash-gated by
# cagra_extend_fixed below and its quality by stats_recall_cagra_extend
# + tests/test_graph.py::test_cagra_extend_matches_rebuild.)
_CE_BASE, _CE_DEG, _CE_SEEDS = 460, 6, 6
_CE_DIST = O.distance_sql_duckdb("sqeuclidean", "a.embedding",
                                 "b.embedding")
_KNN_GRAPH_BASE_SQL = f"""
SELECT src, dst, distance FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_CE_DIST} AS distance,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {_CE_DIST} ASC, b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {_CE_BASE} AND b.vec_id < {_CE_BASE}
) WHERE rn <= 12
"""


def _cagra_extend_fixed(spark, sf_dir):
    """``cagra.extend`` (``cagra.hpp:1255``, ``cagra.pyx:1065``) gated
    value-hash-exact via the composed DuckDB oracle landed in r10
    (``G.cagra_extend_sql``: fixed-iteration beam splice + intra-batch
    kNN + per-edge min-union + optimize re-bound), end-to-end
    equivalence already proven by
    tests/test_properties_round10.py::test_cagra_extend_matches_composed_sql.
    Base graph is the driver-proven knn_self→cagra_optimize composition
    over the first {_CE_BASE} vectors; the extend batch is the rest;
    seeds follow the oracle's md5 rule (new qids × md5-top-{_CE_SEEDS}
    BASE ids). Any divergence in the beam splice, the intra-batch kNN,
    the min-union, or the optimize re-bound hash-mismatches."""
    from cuvs_spark.operators import knn_self
    d = emb_dataset(spark, sf_dir)
    base = d.filter(F.col("id") < _CE_BASE)
    new = d.filter(F.col("id") >= _CE_BASE)
    g = knn_self(base, 12).select(F.col("qid").alias("src"),
                                  F.col("nid").alias("dst"), "distance")
    edges = G.cagra_optimize(g, _CE_DEG)
    seed_ids = (base.select(F.col("id").alias("nid"))
                .orderBy(F.md5(F.col("nid").cast("string")), "nid")
                .limit(_CE_SEEDS))
    seeds = (new.select(F.col("id").alias("qid"))
             .crossJoin(F.broadcast(seed_ids)))
    g2, _d2 = G.cagra_extend(edges, base, new, _CE_DEG, itopk=10,
                             search_width=3, max_iterations=2,
                             seeds=seeds, stop_on_empty=False)
    return g2


register(
    "cagra_extend_fixed", _cagra_extend_fixed,
    G.cagra_extend_sql(
        "SELECT vec_id AS nid, embedding AS dv FROM embeddings "
        f"WHERE vec_id < {_CE_BASE}",
        "SELECT vec_id AS nid, embedding AS dv FROM embeddings "
        f"WHERE vec_id >= {_CE_BASE}",
        G.cagra_optimize_sql(_KNN_GRAPH_BASE_SQL, _CE_DEG),
        _CE_DEG, itopk=10, search_width=3, max_iterations=2,
        n_seeds=_CE_SEEDS))


# --- KDE: remaining kernel family (distance.hpp:93-100, 6 kernels) ---------
def _kde_kernel(kernel):
    def fn(spark, sf_dir, kernel=kernel):
        d = emb_dataset(spark, sf_dir)
        q = emb_queries(spark, sf_dir, 50)
        return kde(d, q, bandwidth=3.0, kernel=kernel,
                   metric="euclidean", qvec_col="qv")
    return fn


for _kern in ["gaussian", "exponential", "tophat", "linear",
              "cosine_kernel"]:
    register(f"kde_{_kern}", _kde_kernel(_kern),
             O.kde_sql(_D_SQL, _Q_SQL.format(nq=50), 3.0,
                       _KERNELS[_kern], "euclidean"))


# --- scale-path (blas) variants: ids+rank gated vs the same oracles --------
# (GEMM float sums differ from sequential folds in the last ulp, so the
# distance column is dropped; the ORDER the engines produce must match)
def _ivf_blas(spark, sf_dir):
    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_flat_build(d, _IVF_LISTS,
                         centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_flat_search(idx, q, 10, _IVF_PROBES, qvec_col="qv",
                           method="blas").select("qid", "nid", "rank")


register("ivf_flat_search_blas", _ivf_blas,
         "SELECT qid, nid, rank FROM ("
         + O.ivf_flat_search_sql(_DA_SQL, _Q_SQL.format(nq=20),
                                 _IVF_CENT_SQL, 10, _IVF_PROBES) + ")")


def _ivf_prefilter(spark, sf_dir):
    """Bitset prefilter on an IVF index (filters.pyx applies to every
    index type): id-predicate filters the inverted file before any
    distance math."""
    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_flat_build(d, _IVF_LISTS,
                         centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_flat_search(idx, q, 10, _IVF_PROBES, qvec_col="qv",
                           prefilter=F.col("id") % 5 != 3)


register("ivf_flat_search_prefilter", _ivf_prefilter,
         O.ivf_flat_search_sql(
             _DA_SQL + " WHERE vec_id % 5 <> 3",
             _Q_SQL.format(nq=20), _IVF_CENT_SQL, 10, _IVF_PROBES))


def _scann_blas(spark, sf_dir):
    from cuvs_spark.operators.scann import scann_build, scann_search
    d = emb_dataset(spark, sf_dir)
    idx = scann_build(d, _IVF_LISTS,
                      centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                      method="blas")
    q = emb_queries(spark, sf_dir, 20)
    return scann_search(idx, q, 10, _IVF_PROBES, qvec_col="qv",
                        score_method="blas").select("qid", "nid", "rank")


def _register_scann_blas():
    from cuvs_spark.operators.scann import scann_search_sql
    register("scann_search_reorder_blas", _scann_blas,
             "SELECT qid, nid, rank FROM ("
             + scann_search_sql(_DA_SQL, _Q_SQL.format(nq=20),
                                _IVF_CENT_SQL, 10, _IVF_PROBES) + ")")


_register_scann_blas()


def _rabitq_blas(spark, sf_dir):
    from cuvs_spark.operators.ivf_rabitq import (ivf_rabitq_build,
                                                 ivf_rabitq_search)
    d = emb_dataset(spark, sf_dir)
    idx = ivf_rabitq_build(d, _IVF_LISTS, bits_per_dim=3,
                           centroids=_fixed_centroids(spark, sf_dir,
                                                      _IVF_LISTS))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_rabitq_search(idx, q, 10, _IVF_PROBES, qvec_col="qv",
                             score_method="blas") \
        .select("qid", "nid", "rank")


def _register_rabitq_blas():
    from cuvs_spark.operators.ivf_rabitq import ivf_rabitq_search_sql
    register("ivf_rabitq_search_blas", _rabitq_blas,
             "SELECT qid, nid, rank FROM ("
             + ivf_rabitq_search_sql(_DA_SQL, _Q_SQL.format(nq=20),
                                     _IVF_CENT_SQL, 10, _IVF_PROBES, 3)
             + ")")


_register_rabitq_blas()


# --- IVF-PQ residual encoding (ivf_pq_build.cuh:79-127) --------------------
def _ivf_pq_residual(spark, sf_dir):
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_pq_build(d, _IVF_LISTS, pq_dim=_PQ_DIM, encode="residual",
                       centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                       codebook=_pq_fixed_codebook(spark, sf_dir))
    q = emb_queries(spark, sf_dir, 20)
    return ivf_pq_search(idx, q, 10, _IVF_PROBES, qvec_col="qv")


def _register_ivf_pq_residual():
    from cuvs_spark.operators.ivf_pq import ivf_pq_residual_search_sql
    register("ivf_pq_search_residual", _ivf_pq_residual,
             ivf_pq_residual_search_sql(_DA_SQL, _Q_SQL.format(nq=20),
                                        _IVF_CENT_SQL, _PQ_CB_SQL, 10,
                                        _IVF_PROBES, _PQ_DIM))


_register_ivf_pq_residual()


def _ivf_pq_transform_codes(spark, sf_dir):
    """``ivf_pq.pyx:987 transform``: encode new vectors with an
    existing index's centers + codebook, no extend.  The residual
    encode is structurally the VPQ transform (coarse assign → residual
    → PQ), so the oracle reuses that template with the IVF centroids
    as the VQ table."""
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_transform
    d = emb_dataset(spark, sf_dir)
    idx = ivf_pq_build(d.filter(F.col("id") >= 100), _IVF_LISTS,
                       pq_dim=_PQ_DIM, encode="residual",
                       centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                       codebook=_pq_fixed_codebook(spark, sf_dir))
    out = ivf_pq_transform(idx, d.filter(F.col("id") < 100))
    return (out.select("id", F.col("list_id").cast("long").alias("list_id"),
                       F.posexplode("codes").alias("sub", "code"))
            .select("id", "list_id", F.col("sub").cast("long"),
                    F.col("code").cast("long")))


def _register_ivf_pq_transform():
    vq_sql = (f"SELECT CAST(label AS INT) AS vlabel, cv AS vcent "
              f"FROM ({_IVF_CENT_SQL})")
    d_sql = ("SELECT vec_id AS id, embedding AS dv FROM embeddings "
             "WHERE vec_id < 100")
    register(
        "ivf_pq_transform_codes", _ivf_pq_transform_codes,
        f"""
WITH t AS ({PQ.vpq_transform_sql(d_sql, vq_sql, _PQ_CB_SQL, _PQ_DIM)})
SELECT id, CAST(vq_label AS BIGINT) AS list_id,
       CAST(generate_subscripts(codes, 1) AS BIGINT) - 1 AS sub,
       CAST(unnest(codes) AS BIGINT) AS code
FROM t
""")


_register_ivf_pq_transform()


# --- index save/load round-trips (§2.1: ivf_pq_serialize.cuh et al.) -------
# Gate-visible persistence: build with fixed params, save to a scratch
# dir, load, search — hash-equal to the direct-search oracle.
def _bf_save_load(spark, sf_dir):
    """brute_force save→load→search must equal a direct exact knn
    (``brute_force.pyx:266,304``). The scratch index dir is removed
    once localCheckpoint has materialized the search off it (the
    ratemon-gate cleanup discipline, ADVICE r9 #4 class)."""
    import shutil
    import tempfile

    from cuvs_spark.operators.brute_force import bf_build
    from cuvs_spark.sources import load_index, save_index
    d = emb_dataset(spark, sf_dir)
    idx = bf_build(d.select("id", "vec"), "sqeuclidean")
    path = tempfile.mkdtemp(prefix="gate_bf_")
    try:
        save_index(idx, path)
        idx2 = load_index(spark, path)
        q = emb_queries(spark, sf_dir, 20)
        return idx2.search(q, 10, qvec_col="qv").localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


register("bf_save_load_search", _bf_save_load,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "sqeuclidean"))


def _ivf_pq_save_load(spark, sf_dir):
    import shutil
    import tempfile

    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
    from cuvs_spark.sources import load_ivf_pq, save_ivf_pq
    d = emb_dataset(spark, sf_dir)
    idx = ivf_pq_build(d, _IVF_LISTS, pq_dim=_PQ_DIM,
                       centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                       codebook=_pq_fixed_codebook(spark, sf_dir))
    path = tempfile.mkdtemp(prefix="gate_ivf_pq_")
    try:
        save_ivf_pq(idx, path)
        idx2 = load_ivf_pq(spark, path)
        q = emb_queries(spark, sf_dir, 20)
        return ivf_pq_search(idx2, q, 10, _IVF_PROBES,
                             qvec_col="qv").localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _ivf_sq_save_load(spark, sf_dir):
    import shutil
    import tempfile

    from cuvs_spark.operators.ivf_pq import ivf_sq_build, ivf_sq_search
    from cuvs_spark.sources import load_ivf_sq, save_ivf_sq
    d = emb_dataset(spark, sf_dir)
    idx = ivf_sq_build(d, _IVF_LISTS,
                       centroids=_fixed_centroids(spark, sf_dir, _IVF_LISTS),
                       lo=-0.5, hi=0.5)
    path = tempfile.mkdtemp(prefix="gate_ivf_sq_")
    try:
        save_ivf_sq(idx, path)
        idx2 = load_ivf_sq(spark, path)
        q = emb_queries(spark, sf_dir, 20)
        return ivf_sq_search(idx2, q, 10, _IVF_PROBES,
                             qvec_col="qv").localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _register_save_load_gates():
    from cuvs_spark.operators.ivf_pq import (ivf_pq_search_sql,
                                             ivf_sq_search_sql)
    register("ivf_pq_save_load_search", _ivf_pq_save_load,
             ivf_pq_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                               _PQ_CB_SQL, 10, _IVF_PROBES, _PQ_DIM))
    register("ivf_sq_save_load_search", _ivf_sq_save_load,
             ivf_sq_search_sql(_DA_SQL, _Q_SQL.format(nq=20), _IVF_CENT_SQL,
                               10, _IVF_PROBES, -0.5, 0.5))


_register_save_load_gates()


# --- groundtruth file pipeline (cuvs_bench/generate_groundtruth) -----------
def _groundtruth_files(spark, sf_dir):
    """Gate the full big-ann file loop: export embeddings to .fbin, read
    the file back as the dataset, generate exact-kNN groundtruth with the
    first-20 queries, emit neighbors .ibin, parse it, and return
    (qid, nid, rank) — each id must survive two binary roundtrips
    (``cuvs_bench/generate_groundtruth/__main__.py``, ``_bin_format.py``).
    Distances are float32-truncated on disk, so they are pytest-verified
    (test_groundtruth.py) rather than hash-gated."""
    import shutil
    import tempfile

    import numpy as np

    from cuvs_spark.sources.groundtruth import (generate_groundtruth,
                                                read_bin_header,
                                                write_bin_dataset)
    from cuvs_spark.sources.index_store import read_bin_dataset
    out = tempfile.mkdtemp(prefix="gate_gt_")
    try:
        d = emb_dataset(spark, sf_dir).select("id", "vec")
        write_bin_dataset(d, f"{out}/base.fbin")
        base = read_bin_dataset(spark, f"{out}/base.fbin")
        q = emb_queries(spark, sf_dir, 20).select(
            "qid", F.col("qv").alias("vec"))
        generate_groundtruth(spark, base, k=10, queries=q, output_dir=out)
        path = f"{out}/groundtruth.neighbors.ibin"
        n, k, hdr = read_bin_header(path, 4)
        with open(path, "rb") as f:
            f.seek(hdr)
            N = np.frombuffer(f.read(), dtype=np.int32).reshape(n, k)
        rows = [(int(qi), int(N[qi, r]), r + 1)
                for qi in range(n) for r in range(k)]
        # rows live on the driver — the scratch files can go before the
        # DataFrame is ever evaluated
        return spark.createDataFrame(rows, "qid long, nid long, rank int")
    finally:
        shutil.rmtree(out, ignore_errors=True)


register("groundtruth_files_roundtrip", _groundtruth_files,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "sqeuclidean",
                   with_distance=False))


# --- CAGRA VPQ dataset compression (cagra.pyx:50-124; common.hpp:411) ------
def _cagra_vpq_decode(spark, sf_dir):
    """Gate for the VPQ decode expression (fixed codebook): compress the
    embeddings through the cagra_compress surface and decode — exploded
    to scalar rows for the harness canonicalizer."""
    from cuvs_spark.operators.graph import cagra_compress
    from cuvs_spark.preprocessing.pq import pq_inverse_transform
    e = emb_dataset(spark, sf_dir)
    codes, cb = cagra_compress(e, pq_dim=_PQ_DIM,
                               codebook=_pq_fixed_codebook(spark, sf_dir))
    dec = pq_inverse_transform(codes, cb)
    return dec.select("id", F.posexplode("vec").alias("dim", "val")) \
              .select("id", F.col("dim").cast("long"), "val")


register(
    "cagra_vpq_decode", _cagra_vpq_decode,
    f"""
WITH codes AS ({PQ.pq_transform_sql(_DA_SQL, _PQ_CB_SQL, _PQ_DIM)}),
dec AS ({PQ.pq_inverse_sql("SELECT id, codes FROM codes", _PQ_CB_SQL)})
SELECT id, CAST(generate_subscripts(vec, 1) AS BIGINT) - 1 AS dim,
       unnest(vec) AS val
FROM dec
""")


# --- SNMG distribution modes (mg/*.pyx; snmg.cuh:248,358,378) --------------
# Sharded and replicated searches are exact — both gate against the
# plain kNN oracle (sharded = ids+rank: GEMM float sums are not
# bit-reproducible, ordering is).
def _mg_sharded(spark, sf_dir):
    from cuvs_spark.operators.mg import sharded_knn
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    return sharded_knn(d, q, 10, "euclidean", n_shards=8, qvec_col="qv",
                       with_distance=False)


def _mg_replicated(spark, sf_dir):
    from cuvs_spark.operators.mg import replicated_knn
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    return replicated_knn(d, q, 10, "euclidean", qvec_col="qv")


register("mg_sharded_search", _mg_sharded,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "euclidean",
                   with_distance=False))
register("mg_replicated_search", _mg_replicated,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "euclidean"))


# --- ACE partitioned CAGRA build (cagra.pyx:127-175) -----------------------
_ACE_NPART, _ACE_DEG = 4, 6


def _cagra_ace(spark, sf_dir):
    """ACE partitioned spill build, value-hash-exact since r12 (the r11
    rows-only → hash-exact conversion, tests/test_round11.py::
    test_cagra_ace_matches_composed_sql): with fixed partitioner AND
    builder centroids (the r11 centroids=/builder_centroids= hooks),
    cagra_build_ace is a composition of driver-proven templates —
    overlap partition assign, per-shard all_neighbors + optimize,
    parquet spill round-trip, per-edge min-union merge + optimize —
    reproduced by G.cagra_ace_sql. Recall + spill layout still asserted
    in tests/test_graph.py."""
    from cuvs_spark.operators.graph import cagra_build_ace
    d = emb_dataset(spark, sf_dir)
    pc = _fixed_centroids(spark, sf_dir, _ACE_NPART)
    bc = _fixed_centroids(spark, sf_dir, 8)
    return cagra_build_ace(d, _ACE_DEG, npartitions=_ACE_NPART,
                           overlap_factor=2, centroids=pc,
                           builder_centroids=bc)


register("cagra_ace_graph", _cagra_ace, G.cagra_ace_sql(
    _DA_SQL,
    f"SELECT vec_id AS part, embedding AS cv FROM embeddings "
    f"WHERE vec_id < {_ACE_NPART}",
    "SELECT vec_id AS label, embedding AS cv FROM embeddings "
    "WHERE vec_id < 8",
    _ACE_DEG, npartitions=_ACE_NPART, overlap_factor=2))


# --- Precomputed metric / ball_cover API / HNSW view gates -----------------
def _knn_precomputed(spark, sf_dir):
    """``DistanceType.Precomputed`` (distance.hpp:64): caller-supplied
    (qid, nid, distance) relation, engine only ranks."""
    from cuvs_spark.functions.distance import distance_col
    from cuvs_spark.operators.brute_force import knn_precomputed
    d = emb_dataset(spark, sf_dir).select(F.col("id").alias("nid"),
                                          F.col("vec").alias("_dv"))
    q = emb_queries(spark, sf_dir, 20)
    pre = (d.join(F.broadcast(q))
           .select("qid", "nid",
                   distance_col("cityblock", "qv", "_dv").alias("distance")))
    return knn_precomputed(pre, 10)


register("knn_precomputed_metric", _knn_precomputed,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "cityblock"))


def _ball_cover_knn(spark, sf_dir):
    """ball_cover API parity (ball_cover.hpp:334): exact kNN; Spark's
    pruning comes from IVF partitioning instead (SURVEY §2.5)."""
    from cuvs_spark.operators.ball_cover import ball_cover_build, knn_query
    idx = ball_cover_build(emb_dataset(spark, sf_dir))
    q = emb_queries(spark, sf_dir, 20)
    return knn_query(idx, q, 10, "euclidean", qvec_col="qv")


register("ball_cover_knn", _ball_cover_knn,
         O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "euclidean"))


def _hnsw_view(spark, sf_dir):
    """hnsw.from_cagra (hnsw.pyx:410): base-layer adjacency view of the
    optimized graph — exploded (layer, src, pos, neighbor) so the
    harness canonicalizer never sees an array cell."""
    from cuvs_spark.operators import knn_self
    from cuvs_spark.sources.graph_export import hnsw_from_cagra
    d = emb_dataset(spark, sf_dir)
    g = knn_self(d, 12).select(F.col("qid").alias("src"),
                               F.col("nid").alias("dst"), "distance")
    h = hnsw_from_cagra(G.cagra_optimize(g, graph_degree=6))
    return (h.select("layer", "src",
                     F.posexplode("neighbors").alias("pos", "neighbor"))
            .select(F.col("layer").cast("long"), "src",
                    F.col("pos").cast("long"), "neighbor"))


def _register_hnsw_view():
    register("hnsw_from_cagra_view", _hnsw_view, f"""
WITH g AS ({G.cagra_optimize_sql(_KNN_GRAPH_SQL, 6)})
SELECT CAST(0 AS BIGINT) AS layer, src,
       CAST(rank - 1 AS BIGINT) AS pos, dst AS neighbor
FROM g
""")


_register_hnsw_view()


# --- quality-scalar gates for the iterative operators ----------------------
# Same pattern as stats_recall_cagra_vs_exact: the Spark side computes a
# deterministic quality metric (fixed data, seeded algorithms) and clamps
# it to exactly 1.0 once it clears the bar; the oracle is the constant.
# This turns the rows-only iteratives into HARD driver-verified rows — a
# sub-bar value hash-mismatches and exposes itself.  Bars sit well under
# the measured sf0.01 values (nn_descent 0.85, ivf_trained 0.71, extend
# 0.93, ace 1.0, purity 1.0, pca ratio 0.80).

def _clamp_pass(df, col: str, bar: float, out: str, *, leq: bool = False):
    cond = (F.col(col) <= bar) if leq else (F.col(col) >= bar)
    return df.select(F.when(cond, F.lit(1.0))
                     .otherwise(F.col(col).cast("double")).alias(out))


def _scalar(spark, name, value):
    return spark.createDataFrame([(float(value),)], f"{name} double")


def _nn_descent_recall(spark, sf_dir):
    """nn_descent graph recall vs the exact kNN graph (the reference's
    pass criterion for its nn_descent tests)."""
    from cuvs_spark.operators.brute_force import knn_self
    d = emb_dataset(spark, sf_dir).limit(300)
    g = G.nn_descent_build(d, _AN_K, max_iterations=4) \
        .select(F.col("src").alias("qid"), F.col("dst").alias("nid"))
    exact = knn_self(d, _AN_K).select("qid", "nid")
    return _clamp_pass(ST.recall_score(g, exact), "recall", 0.8,
                       "recall_pass")


def _ivf_trained_recall(spark, sf_dir):
    """Trained-coarse-quantizer IVF search recall@10 vs exact."""
    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
    d = emb_dataset(spark, sf_dir)
    idx = ivf_flat_build(d, 16, kmeans_n_iters=8, seed=5)
    q = emb_queries(spark, sf_dir, 20)
    approx = ivf_flat_search(idx, q, 10, 6, qvec_col="qv")
    exact = knn(d, q, 10, "sqeuclidean", qvec_col="qv")
    return _clamp_pass(ST.recall_score(approx, exact), "recall", 0.65,
                       "recall_pass")


def _cagra_extend_recall(spark, sf_dir):
    """Search recall over the extended graph vs exact on the union —
    the test_graph.py recall-vs-rebuild criterion as a driver row."""
    d = emb_dataset(spark, sf_dir).limit(300)
    old = d.filter(F.col("id") >= 50)
    g = G.cagra_build(old, graph_degree=8, n_clusters=4, overlap_factor=2,
                      kmeans_n_iters=4)
    g2, d2 = G.cagra_extend(g, old, d.filter(F.col("id") < 50), 8)
    q = emb_queries(spark, sf_dir, 20)
    got = G.cagra_search(g2, d2, q, 5, itopk=24, search_width=6,
                         max_iterations=6, qvec_col="qv")
    exact = knn(d, q, 5, "sqeuclidean", qvec_col="qv")
    return _clamp_pass(ST.recall_score(got, exact), "recall", 0.85,
                       "recall_pass")


def _cagra_ace_recall(spark, sf_dir):
    """Search recall over the ACE-built graph vs exact."""
    from cuvs_spark.operators.graph import cagra_build_ace
    d = emb_dataset(spark, sf_dir).limit(300)
    g = cagra_build_ace(d, graph_degree=8, npartitions=2,
                        overlap_factor=2, n_clusters=2, kmeans_n_iters=3)
    q = emb_queries(spark, sf_dir, 20)
    got = G.cagra_search(g, d, q, 5, itopk=24, search_width=6,
                         max_iterations=6, qvec_col="qv")
    exact = knn(d, q, 5, "sqeuclidean", qvec_col="qv")
    return _clamp_pass(ST.recall_score(got, exact), "recall", 0.9,
                       "recall_pass")


def _spectral_purity(spark, sf_dir):
    """Spectral clustering must perfectly recover three synthetic blobs
    derived from the embeddings (vec + 10·(id mod 3) per dim) — purity
    vs the construction's ground truth as a scalar."""
    from cuvs_spark.cluster.spectral import spectral_fit_predict
    blobs = (emb_dataset(spark, sf_dir).limit(150)
             .select("id", F.expr(
                 "transform(vec, x -> CAST(x + 10.0 * CAST(id % 3 AS DOUBLE)"
                 " AS FLOAT))").alias("vec")))
    lab = spectral_fit_predict(blobs, 3, k=10, n_init=1, max_iter=8)
    agg = (lab.withColumn("truth", F.col("id") % 3)
           .groupBy("label", "truth").count()
           .groupBy("label").agg(F.max("count").alias("maj"),
                                 F.sum("count").alias("tot"))
           .agg((F.sum("maj") / F.sum("tot")).alias("purity")))
    return _clamp_pass(agg, "purity", 0.95, "purity_pass")


def _pca_recon(spark, sf_dir):
    """PCA(8) reconstruction-error ratio ||X−X̂||²/||X−mean||² — exact
    eigh on fixed data, so the ratio is a constant of the dataset."""
    from cuvs_spark.preprocessing.pca import (pca_fit,
                                              pca_inverse_transform,
                                              pca_transform)
    e = emb_dataset(spark, sf_dir).select("id", "vec")
    model = pca_fit(e, 8)
    rec = pca_inverse_transform(pca_transform(e, model), model)
    both = (e.join(rec.withColumnRenamed("vec", "rvec"), "id")
            .select(F.expr(
                "aggregate(zip_with(vec, rvec, (x, r) -> "
                "(CAST(x AS DOUBLE) - CAST(r AS DOUBLE)) * "
                "(CAST(x AS DOUBLE) - CAST(r AS DOUBLE))), "
                "CAST(0 AS DOUBLE), (a, v) -> a + v)").alias("err"),
                F.col("vec")))
    mean = both.select(F.posexplode("vec").alias("dim", "x")) \
               .groupBy("dim").agg(F.avg("x").alias("mu"))
    var = (both.select(F.posexplode("vec").alias("dim", "x"))
           .join(F.broadcast(mean), "dim")
           .agg(F.sum((F.col("x") - F.col("mu")) ** 2).alias("den")))
    num = both.agg(F.sum("err").alias("num"))
    ratio = num.join(var).select((F.col("num") / F.col("den"))
                                 .alias("ratio"))
    return _clamp_pass(ratio, "ratio", 0.85, "recon_pass", leq=True)


def _near_dup_ann_recall(spark, sf_dir):
    """IVF-bucketed embedding near-dup (the brief's ANN scale path)
    must recover ≥85% of the exact eps-join pairs (measured 0.92 at
    fixed centroids, deterministic)."""
    from cuvs_spark.pipeline import dedup as DD
    emb = T(spark, sf_dir, "embeddings")
    exact = DD.embedding_near_dup(emb, tau=0.62) \
        .select(F.col("doc_a").alias("qid"), F.col("doc_b").alias("nid"))
    ann = DD.embedding_near_dup_ann(
        emb, tau=0.62, n_probes=12, k=60,
        centroids=_fixed_centroids(spark, sf_dir, 16)) \
        .select(F.col("doc_a").alias("qid"), F.col("doc_b").alias("nid"))
    return _clamp_pass(ST.recall_score(ann, exact), "recall", 0.85,
                       "recall_pass")


def _lsh_recall(spark, sf_dir):
    """Recall@10 of random-hyperplane LSH search (the brief's
    LSH-bucketed similarity-search variant: multi-table sign buckets +
    1-bit multi-probe + exact re-rank on candidates only,
    ``operators/lsh.py``) vs exact cosine kNN, clamped above the 0.8
    bar (measured 0.94 at gate scale with 4 planes × 8 tables;
    n_planes is the 100 TB knob — buckets ~n/2^planes rows)."""
    from cuvs_spark.operators.lsh import lsh_knn
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    got = lsh_knn(d, q, 10, n_planes=4, n_tables=8, n_probe_bits=2,
                  qvec_col="qv")
    exact = knn(d, q, 10, "cosine", qvec_col="qv")
    return _clamp_pass(ST.recall_score(got, exact), "recall", 0.8,
                       "recall_pass")


def _hnsw_recall(spark, sf_dir):
    """Recall@10 of the multi-layer HNSW descent search (top-layer
    greedy walk handing entry points down, ef-beam on the base layer —
    round 5's most intricate search path, ``graph_export.py:119``) vs
    exact kNN, clamped to 1.0 above the 0.85 bar (measured 0.975 at
    gate scale; a sub-bar recall hash-mismatches and exposes itself)."""
    from cuvs_spark.sources.graph_export import hnsw_build, hnsw_search
    d = emb_dataset(spark, sf_dir).limit(300)
    layers = hnsw_build(d, graph_degree=8, hierarchy="multi", M=4,
                        n_clusters=4, overlap_factor=2, kmeans_n_iters=3)
    q = emb_queries(spark, sf_dir, 20)
    got = hnsw_search(layers, d, q, 10, ef=32, qvec_col="qv")
    exact = knn(d, q, 10, "sqeuclidean", qvec_col="qv")
    return _clamp_pass(ST.recall_score(got, exact), "recall", 0.85,
                       "recall_pass")


def _linkage_exact(spark, sf_dir):
    """Exact-label agreement of the distributed single-linkage path
    (kNN graph → Borůvka MST → cut, ``agglomerative.py:159``;
    reference ``agglomerative.hpp:107,251``) vs an independent
    driver-side Kruskal at gate scale — the one §2 family whose main
    output had no oracle-backed driver scalar before round 7
    (mutual_reachability has one; the linkage itself was rows-only).

    The twin rebuilds the same directed kNN graph in NumPy with the
    engine's exact fold order (sequential per-dim f64 accumulation of
    ``(x−y)²`` — bit-identical to the ``aggregate(zip_with(...))``
    template, ``functions/distance.py:58``), runs Kruskal over the
    edges sorted by (dist, src, dst) — the same merge order as the
    MST cut — and labels components by min member id. Distinct edge
    weights make the MST unique, so Borůvka and Kruskal must agree
    exactly: the bar is 1.0, and any sub-1.0 agreement hash-mismatches
    and exposes itself."""
    import numpy as np

    from cuvs_spark.cluster.agglomerative import single_linkage
    d = (emb_dataset(spark, sf_dir).filter(F.col("id") < 150)
         .select("id", "vec"))
    got = single_linkage(d, n_clusters=5, k=10)
    rows = sorted((r["id"], r["vec"]) for r in d.collect())
    ids = [int(r[0]) for r in rows]
    A = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    n, dim = A.shape
    D = np.zeros((n, n))
    for t in range(dim):           # sequential per-dim fold, as the SQL
        diff = A[:, t][:, None] - A[:, t][None, :]
        D += diff * diff
    edges = []
    for i in range(n):
        order = np.lexsort((np.arange(n), D[i]))
        picked = 0
        for j in order:
            if j == i:
                continue
            edges.append((float(D[i, j]), ids[i], ids[int(j)]))
            picked += 1
            if picked == 10:
                break
    edges.sort()
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    comps = n
    for _w, a, b in edges:
        if comps <= 5:
            break
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            comps -= 1
    root_min: dict = {}
    for i in ids:
        root_min.setdefault(find(i), i)   # ids ascend → first is min
    exp = spark.createDataFrame(
        [(i, root_min[find(i)]) for i in ids], "id long, elabel long")
    agg = (got.join(exp, "id")
           .agg(F.avg(F.when(F.col("label") == F.col("elabel"),
                             F.lit(1.0)).otherwise(F.lit(0.0)))
                .alias("agree")))
    return _clamp_pass(agg, "agree", 1.0, "linkage_pass")


def _lsh_multiprobe_recall(spark, sf_dir):
    """Recall@10 of LSH kNN in the multi-probe-dependent regime — 4
    tables at 4 planes recall only 0.525 from the base buckets alone;
    clearing the 0.7 bar requires the ``n_probe_bits=3`` bit-flip
    probes to actually fire (``lsh.py:142``; measured 0.87 at gate
    scale with probes on, 0.525 off). Complements
    ``stats_recall_lsh_vs_exact`` (8 tables, wide margin) by putting
    the probe arm itself under a driver verdict."""
    from cuvs_spark.operators.lsh import lsh_knn
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    got = lsh_knn(d, q, 10, n_planes=4, n_tables=4, n_probe_bits=3,
                  qvec_col="qv")
    exact = knn(d, q, 10, "cosine", qvec_col="qv")
    return _clamp_pass(ST.recall_score(got, exact), "recall", 0.7,
                       "recall_pass")


for _n, _f, _c in [
        ("stats_recall_near_dup_ann", _near_dup_ann_recall, "recall_pass"),
        ("stats_recall_nn_descent", _nn_descent_recall, "recall_pass"),
        ("stats_recall_ivf_trained", _ivf_trained_recall, "recall_pass"),
        ("stats_recall_cagra_extend", _cagra_extend_recall, "recall_pass"),
        ("stats_recall_cagra_ace", _cagra_ace_recall, "recall_pass"),
        ("stats_purity_spectral", _spectral_purity, "purity_pass"),
        ("stats_pca_recon", _pca_recon, "recon_pass"),
        ("stats_recall_hnsw_vs_exact", _hnsw_recall, "recall_pass"),
        ("stats_recall_lsh_vs_exact", _lsh_recall, "recall_pass"),
        ("stats_linkage_exact", _linkage_exact, "linkage_pass"),
        ("stats_recall_lsh_multiprobe", _lsh_multiprobe_recall,
         "recall_pass")]:
    register(_n, _f, f"SELECT CAST(1.0 AS DOUBLE) AS {_c}")


# --- round-7 third-wave novel ops: incremental dedup-against-base, CDC
# chunking, CCNet score buckets, kNN label propagation ----------------------

def _dedup_against_base(spark, sf_dir):
    """Incremental dedup of a delta crawl against the corpus as base:
    50 exact copies (jaccard 1.0), 50 near copies (two appended
    tokens), and 30 synthetic novel docs that must NOT match; output
    is each matching delta doc's best base match at jaccard ≥ 0.5."""
    d = doc_table(spark, sf_dir)
    exact = (d.filter(F.col("doc_id") < 50)
             .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    near = (d.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
            .select((F.col("doc_id") + 200000).alias("doc_id"),
                    F.concat(F.col("text"),
                             F.lit(" zq1 zq2")).alias("text")))
    novel = (d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 130))
             .select((F.col("doc_id") + 300000).alias("doc_id"),
                     F.concat(F.lit("nv"), F.col("doc_id").cast("string"),
                              F.lit(" uq alpha beta gamma delta epsilon "
                                    "zeta")).alias("text")))
    delta = exact.unionByName(near).unionByName(novel)
    return DD.dedup_against(d, delta)


_DELTA_SQL = """SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' zq1 zq2' AS text
FROM documents WHERE doc_id >= 50 AND doc_id < 100
UNION ALL SELECT doc_id + 300000 AS doc_id,
  'nv' || CAST(doc_id AS VARCHAR) || ' uq alpha beta gamma delta epsilon zeta' AS text
FROM documents WHERE doc_id >= 100 AND doc_id < 130"""

register("dedup_against_base", _dedup_against_base,
         DD.dedup_against_sql(_DOC_SQL, _DELTA_SQL))


def _cdc_chunks(spark, sf_dir):
    """Content-defined chunking: token-gram rolling-hash boundaries
    (window 4, divisor 16) → per-chunk token count + hash — the
    shift-resistant cross-version dedup unit."""
    return DD.cdc_chunks(doc_table(spark, sf_dir))


register("dedup_cdc_chunks", _cdc_chunks, DD.cdc_chunks_sql(_DOC_SQL))


def _ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail: per-source terciles of the bigram-LM
    mean pair probability (bucket 1 = best), exact ntile path."""
    from cuvs_spark.pipeline.sampling import score_buckets
    d = doc_table(spark, sf_dir)
    big, ctx, v = TX.bigram_lm(d)
    s = TX.lm_score_bigram(d, big, ctx, v)
    src = (T(spark, sf_dir, "documents")
           .select(F.col("doc_id").cast("long").alias("doc_id"), "source"))
    j = (s.join(src, "doc_id")
         .select("doc_id", "source",
                 F.col("mean_pair_prob").alias("score")))
    return score_buckets(j, 3, score_col="score", group_col="source")


def _ppl_buckets_sql():
    from cuvs_spark.pipeline.sampling import score_buckets_sql
    lm = TX.lm_score_bigram_sql(_DOC_SQL)
    j = (f"SELECT s.doc_id AS doc_id, src.source AS source, "
         f"s.mean_pair_prob AS score FROM ({lm}) s "
         f"JOIN (SELECT doc_id, source FROM documents) src USING (doc_id)")
    return score_buckets_sql(j, 3, score_col="score", group_col="source")


register("sample_ppl_buckets", _ppl_buckets, _ppl_buckets_sql())


def _knn_label_vote(spark, sf_dir):
    """kNN majority-vote label propagation from the labeled embedding
    table to 20 query vectors (k=10, ties → lowest label)."""
    from cuvs_spark.pipeline.classify import knn_label_vote
    return knn_label_vote(emb_dataset(spark, sf_dir),
                          emb_queries(spark, sf_dir, 20), 10,
                          "sqeuclidean", qvec_col="qv")


def _knn_label_vote_sql():
    from cuvs_spark.pipeline.classify import knn_label_vote_sql
    return knn_label_vote_sql(
        "SELECT vec_id AS nid, embedding AS dv, label FROM embeddings",
        _Q_SQL.format(nq=20), 10, "sqeuclidean")


register("knn_label_vote", _knn_label_vote, _knn_label_vote_sql())


def _maxsim_topk(spark, sf_dir):
    """ColBERT-style late interaction over multi-vector docs (5 token
    vectors per doc, grouped from the embedding table): top-5 docs per
    query by Σ per-query-token max cosine similarity."""
    from cuvs_spark.pipeline.retrieval import maxsim_search
    e = T(spark, sf_dir, "embeddings")
    dt = e.select(F.expr("CAST(vec_id DIV 5 AS BIGINT)").alias("doc_id"),
                  F.expr("pmod(vec_id, 5)").alias("tok_idx"),
                  F.col("embedding").alias("vec"))
    qt = (e.filter(F.col("vec_id") < 20)
          .select(F.expr("CAST(vec_id DIV 5 AS BIGINT)").alias("qid"),
                  F.expr("pmod(vec_id, 5)").alias("tok_idx"),
                  F.col("embedding").alias("vec")))
    return maxsim_search(dt, qt, 5, metric="cosine")


def _maxsim_topk_sql():
    from cuvs_spark.pipeline.retrieval import maxsim_search_sql
    return maxsim_search_sql(
        "SELECT vec_id // 5 AS doc_id, vec_id % 5 AS tok_idx, "
        "embedding AS dv FROM embeddings",
        "SELECT vec_id // 5 AS qid, vec_id % 5 AS tok_idx, "
        "embedding AS qv FROM embeddings WHERE vec_id < 20", 5)


register("text_maxsim_topk", _maxsim_topk, _maxsim_topk_sql())


def _contamination_report(spark, sf_dir):
    """Per-eval-item contamination audit: eval = docs 0-19, corpus =
    docs + injected exact/near copies → every eval item is hit by
    its own copy (and doc<50 ids by the +100000 exact dup)."""
    d = _docs_with_dups(spark, sf_dir)
    bench = (doc_table(spark, sf_dir).filter(F.col("doc_id") < 20)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    return TX.contamination_report(d, bench)


register("text_contamination_report", _contamination_report,
         TX.contamination_report_sql(
             _DOC_DUP_SQL,
             "SELECT doc_id AS bench_id, text FROM documents "
             "WHERE doc_id < 20"))


def _length_quantiles(spark, sf_dir):
    """Per-source token-length quantile audit (exact type-7
    percentiles, rounded 6dp on both engines)."""
    return TX.length_quantiles(T(spark, sf_dir, "documents")
                               .select("source", "doc_id", "text"))


register("text_length_quantiles", _length_quantiles,
         TX.length_quantiles_sql("SELECT source, text FROM documents"))


def _cluster_histogram(spark, sf_dir):
    """Exact-dup cluster-size histogram over the injected-copies
    corpus: the dedup audit view (size-2 clusters from the exact
    copies; near copies differ textually, so they stay size-1)."""
    return DD.dup_cluster_histogram(_docs_with_dups(spark, sf_dir))


register("dedup_cluster_histogram", _cluster_histogram,
         DD.dup_cluster_histogram_sql(_DOC_DUP_SQL))


def _script_profile(spark, sf_dir):
    """Unicode script-mix audit (map-only regexp counts; fractions
    over greatest(n_chars, 1))."""
    return TX.script_profile(doc_table(spark, sf_dir))


register("text_script_profile", _script_profile,
         TX.script_profile_sql(_DOC_SQL))


def _leakage_free_split(spark, sf_dir):
    """Duplicate-cluster-aware split over the injected-copies corpus:
    every exact copy must land in its original's split."""
    from cuvs_spark.pipeline.sampling import leakage_free_split
    return leakage_free_split(_docs_with_dups(spark, sf_dir),
                              {"train": 0.8, "test": 0.2})


def _leakage_free_split_sql():
    from cuvs_spark.pipeline.sampling import leakage_free_split_sql
    return leakage_free_split_sql(_DOC_DUP_SQL,
                                  {"train": 0.8, "test": 0.2})


register("sample_leakage_free_split", _leakage_free_split,
         _leakage_free_split_sql())


def _ngram_novelty(spark, sf_dir):
    """Per-doc novel-3-gram fraction over the injected-copies corpus:
    exact copies collapse every gram's doc-freq to ≥2, so their
    novelty (and their originals') drops to 0 — the memorization-
    pressure score the audit is for."""
    return TX.ngram_novelty(_docs_with_dups(spark, sf_dir), 3)


register("text_ngram_novelty", _ngram_novelty,
         TX.ngram_novelty_sql(_DOC_DUP_SQL, 3))


def _vocab_coverage(spark, sf_dir):
    """Top-50 vocabulary head coverage (Zipf audit): cumulative token
    mass per rank — integer counts, one exact division per row."""
    return TX.vocab_coverage(doc_table(spark, sf_dir), 50)


register("text_vocab_coverage", _vocab_coverage,
         TX.vocab_coverage_sql(_DOC_SQL, 50))


def _cross_source_dups(spark, sf_dir):
    """Cross-source exact-dup audit: every doc_id % 3 == 0 doc gets a
    copy under source 'mirror', so those clusters (and any organic
    cross-source duplicates) must surface with their sorted source
    list; same-source duplicates must NOT."""
    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "source")
    mirror = (d.filter(F.col("doc_id") % 3 == 0)
              .select((F.col("doc_id") + 400000).alias("doc_id"), "text",
                      F.lit("mirror").alias("source")))
    return DD.cross_source_dups(d.unionByName(mirror))


_DOC_SRC_DUP_SQL = """SELECT doc_id, text, source AS src FROM documents
UNION ALL SELECT doc_id + 400000 AS doc_id, text, 'mirror' AS src
FROM documents WHERE doc_id % 3 = 0"""

register("dedup_cross_source", _cross_source_dups,
         DD.cross_source_dups_sql(_DOC_SRC_DUP_SQL))


def _matryoshka_recall(spark, sf_dir):
    """Recall@10 of cosine kNN on the 16-dim Matryoshka prefix vs the
    full 64-dim exact answer — EXACT on both engines (both rank with
    the same distance templates and nid tie-break, so the hit count is
    an integer and the scalar is one IEEE division), unlike the
    clamped stats_recall_* scalars."""
    from cuvs_spark.functions.vector import truncate_dims
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    ann = knn(d.withColumn("vec", truncate_dims("vec", 16)),
              q.withColumn("qv", truncate_dims("qv", 16)),
              10, "cosine", qvec_col="qv", with_distance=False)
    exact = knn(d, q, 10, "cosine", qvec_col="qv", with_distance=False)
    return ST.recall_score(ann, exact)


def _matryoshka_recall_sql():
    trunc_d = ("SELECT vec_id AS nid, embedding[1:16] AS dv "
               "FROM embeddings")
    trunc_q = ("SELECT vec_id AS qid, embedding[1:16] AS qv "
               "FROM embeddings WHERE vec_id < 20")
    ann = O.knn_sql(trunc_d, trunc_q, 10, "cosine", with_distance=False)
    ex = O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 10, "cosine",
                   with_distance=False)
    return f"""
WITH ann AS ({ann}),
ex AS ({ex}),
h AS (SELECT count(*) AS hits FROM ann a
      JOIN ex e ON a.qid = e.qid AND a.nid = e.nid),
t AS (SELECT count(*) AS total FROM ex)
SELECT CAST(h.hits AS DOUBLE) / CAST(t.total AS DOUBLE) AS recall
FROM h, t
"""


register("stats_recall_matryoshka", _matryoshka_recall,
         _matryoshka_recall_sql())


def _dedup_against_bloom(spark, sf_dir):
    """Fixed-size Bloom membership pre-filter of the same delta as
    dedup_against_base: the 50 exact copies must flag maybe_dup=1,
    the 50 near copies (two appended tokens → different exact text)
    and 30 novel docs must flag 0 (any deterministic FP would match
    on both engines identically)."""
    d = doc_table(spark, sf_dir)
    exact = (d.filter(F.col("doc_id") < 50)
             .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    near = (d.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
            .select((F.col("doc_id") + 200000).alias("doc_id"),
                    F.concat(F.col("text"),
                             F.lit(" zq1 zq2")).alias("text")))
    novel = (d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 130))
             .select((F.col("doc_id") + 300000).alias("doc_id"),
                     F.concat(F.lit("nv"), F.col("doc_id").cast("string"),
                              F.lit(" uq alpha beta gamma delta epsilon "
                                    "zeta")).alias("text")))
    delta = exact.unionByName(near).unionByName(novel)
    return DD.dedup_against_bloom(d, delta, m_bits=63 * 1024)


register("dedup_against_bloom", _dedup_against_bloom,
         DD.dedup_against_bloom_sql(_DOC_SQL, _DELTA_SQL, 63 * 1024))


def _decontaminate_remove(spark, sf_dir):
    """Span-removal decontamination over the injected-copies corpus
    (eval = docs 0-19, n=8): eval docs and their exact copies empty
    out, near copies lose the shared spans, clean docs pass through
    byte-identical modulo whitespace normalization."""
    bench = (doc_table(spark, sf_dir).filter(F.col("doc_id") < 20)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    return TX.decontaminate_remove(_docs_with_dups(spark, sf_dir), bench)


register("text_decontaminate_remove", _decontaminate_remove,
         TX.decontaminate_remove_sql(
             _DOC_DUP_SQL,
             "SELECT doc_id AS bench_id, text FROM documents "
             "WHERE doc_id < 20"))


# --- round-8 novel gates -----------------------------------------------------


def _bloom_filter_table(spark, sf_dir):
    """The Bloom filter TABLE itself as a gate (round 8): both engines
    must emit the identical self-describing (word_idx, bits) relation
    — including the word_idx=-1/-2 metadata rows added to the SQL twin
    this round (ADVICE r7 #4) — so a filter materialized by either
    engine is probe-able by the other's bloom_contains."""
    return DD.bloom_build(doc_table(spark, sf_dir), m_bits=63 * 512, k=3)


register("dedup_bloom_filter", _bloom_filter_table,
         DD.bloom_build_sql(_DOC_SQL, 63 * 512, 3))


def _group_mmd(spark, sf_dir):
    """Linear-kernel MMD² between every label pair of the embeddings
    table — the distribution-shift audit (collapses to rounded
    per-group means + the shared sqeuclidean fold; nothing quadratic
    in rows)."""
    e = T(spark, sf_dir, "embeddings")
    return ST.group_mmd(e, group_col="label",
                        vec_col="embedding")


register("stats_group_mmd", _group_mmd,
         ST.group_mmd_sql("SELECT label, embedding FROM embeddings"))


def _norm_quantiles(spark, sf_dir):
    """Per-label squared-norm quantiles of the embedding column — the
    embedding-quality audit twin of text_length_quantiles (broken
    encoder batches / degenerate sources show up as collapsed or
    exploding norm distributions)."""
    e = T(spark, sf_dir, "embeddings")
    return ST.embedding_norm_quantiles(e, group_col="label",
                                       vec_col="embedding")


register("stats_norm_quantiles", _norm_quantiles,
         ST.embedding_norm_quantiles_sql(
             "SELECT label, embedding FROM embeddings"))


def _collocations(spark, sf_dir):
    """Top-20 adjacent-word collocations by lift (PMI sans log — the
    no-libm rule; log is monotone so the ranking is PMI's)."""
    return TX.collocations(doc_table(spark, sf_dir), 20, min_count=5)


register("text_collocations", _collocations,
         TX.collocations_sql(_DOC_SQL, 20, min_count=5))


def _vocab_gini(spark, sf_dir):
    """Gini coefficient of the corpus token-frequency distribution —
    the one-number Zipf audit; all-integer rank-sum grouped by
    distinct frequency so no vocab-sized sort exists anywhere."""
    return TX.vocab_gini(doc_table(spark, sf_dir))


register("text_vocab_gini", _vocab_gini, TX.vocab_gini_sql(_DOC_SQL))


def _register_round8_retrieval_gates():
    from cuvs_spark.pipeline.retrieval import (bm25_search_sql, borda_fuse,
                                               borda_fuse_sql,
                                               mmr_diversify,
                                               mmr_diversify_sql)

    def _borda(spark, sf_dir):
        """Borda-count fusion of the same BM25 + cosine rankings the
        RRF gate fuses — pure integer positional points, the
        equal-trust hybrid combiner."""
        from cuvs_spark.operators import knn
        from cuvs_spark.pipeline.retrieval import bm25_search, borda_fuse
        bm = bm25_search(doc_table(spark, sf_dir),
                         _bm25_queries(spark, sf_dir), 10)
        d = emb_dataset(spark, sf_dir)
        q = emb_queries(spark, sf_dir, 10)
        vec = (knn(d, q, 10, "cosine", qvec_col="qv")
               .select("qid", F.col("nid").alias("doc_id"), "rank"))
        return borda_fuse([bm, vec], 10, depth=10)

    vec_sql = ("SELECT qid, nid AS doc_id, rank FROM ("
               + O.knn_sql(_D_SQL, _Q_SQL.format(nq=10), 10,
                           "cosine").strip() + ")")
    register("text_rank_fusion_borda", _borda,
             borda_fuse_sql([
                 bm25_search_sql(_DOC_SQL, _BM25_Q_SQL, 10),
                 vec_sql], 10, depth=10))

    def _mmr(spark, sf_dir):
        """MMR diversity re-rank of cosine top-20 candidates (k=5,
        λ=0.5): the post-ANN serving stage — candidates-only, k
        unrolled greedy steps, cosine-fold parity with the oracle's
        unrolled CTEs."""
        from cuvs_spark.operators import knn
        d = emb_dataset(spark, sf_dir)
        q = emb_queries(spark, sf_dir, 20)
        got = knn(d, q, 20, "cosine", qvec_col="qv")
        cand = (got.select("qid", F.col("nid").alias("doc_id"),
                           (F.lit(1.0) - F.col("distance")).alias("rel"))
                .join(d.select(F.col("id").alias("doc_id"), "vec"),
                      "doc_id"))
        return mmr_diversify(cand, 5, lam=0.5)

    cand_sql = ("SELECT k.qid AS qid, k.nid AS doc_id, "
                "CAST(1.0 AS DOUBLE) - k.distance AS rel, "
                "e.embedding AS vec FROM ("
                + O.knn_sql(_D_SQL, _Q_SQL.format(nq=20), 20,
                            "cosine").strip()
                + ") k JOIN embeddings e ON e.vec_id = k.nid")
    register("text_mmr_diversify", _mmr,
             mmr_diversify_sql(cand_sql, 5, lam=0.5))


_register_round8_retrieval_gates()


def _mrr_lsh(spark, sf_dir):
    """MRR of the exact cosine top-1 within the LSH top-10 ranking —
    the position-sensitive serving-quality scalar on top of the
    recall gates (recall@10 says the true neighbor appears; MRR says
    it surfaces near the top). Rational-exact (integer 2520/rank
    sums), clamped above the 0.75 bar (measured ~0.9 at gate scale:
    LSH's exact re-rank puts found top-1s at rank 1, so MRR tracks
    top-1 recall)."""
    from cuvs_spark.operators.lsh import lsh_knn
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    ann = lsh_knn(d, q, 10, n_planes=4, n_tables=8, n_probe_bits=2,
                  qvec_col="qv")
    truth = knn(d, q, 1, "cosine", qvec_col="qv").select("qid", "nid")
    return _clamp_pass(ST.mrr_score(ann, truth), "mrr", 0.75, "mrr_pass")


register("stats_mrr_lsh", _mrr_lsh,
         "SELECT CAST(1.0 AS DOUBLE) AS mrr_pass")


def _ngram_containment(spark, sf_dir):
    """Excerpt detection by rare-shingle-blocked n-gram containment:
    40 injected excerpts (the first 80 chars of docs 0-39) must pair
    with their source at containment 1.0 — the asymmetric-dup class
    Jaccard/MinHash structurally miss (an excerpt's Jaccard vs its
    source is tiny)."""
    d = doc_table(spark, sf_dir)
    exc = (d.filter(F.col("doc_id") < 40)
           .select((F.col("doc_id") + 400000).alias("doc_id"),
                   F.substring("text", 1, 80).alias("text")))
    return DD.ngram_containment_pairs(d.unionByName(exc), 8,
                                      threshold=0.8, max_df=20)


register("dedup_ngram_containment", _ngram_containment,
         DD.ngram_containment_pairs_sql(
             _DOC_SQL + " UNION ALL SELECT doc_id + 400000 AS doc_id, "
             "substr(text, 1, 80) AS text FROM documents "
             "WHERE doc_id < 40", 8, 0.8, 20))


def _temperature_mixture(spark, sf_dir):
    """Temperature-0.5 mixture plan over the documents sources: per
    source (n_docs, n_tokens, sqrt-flattened weight, budget-scaled
    sample_rate) — the mC4/XLM-R rebalancing rule, gate-exact because
    sqrt (unlike pow) is correctly rounded on both engines."""
    from cuvs_spark.pipeline.sampling import temperature_mixture
    d = (T(spark, sf_dir, "documents")
         .select("source", F.col("doc_id").cast("long").alias("doc_id"),
                 "text"))
    return temperature_mixture(d, 20_000)


def _temperature_mixture_sql():
    from cuvs_spark.pipeline.sampling import temperature_mixture_sql
    return temperature_mixture_sql(
        "SELECT source, doc_id, text FROM documents", 20_000)


register("sample_temperature_mixture", _temperature_mixture,
         _temperature_mixture_sql())


def _events_asof_forward(spark, sf_dir):
    """Forward as-of: each event attaches the EARLIEST same-user click
    at or after it (tolerance 1 h) — the 'next conversion' join every
    attribution pipeline runs; same one-shuffle union+window plan as
    the backward gate with the scan direction flipped. DuckDB's native
    forward ASOF (l.ts <= r.ts) is the oracle."""
    from cuvs_spark.operators.temporal import asof_join
    ev = events_table(spark, sf_dir)
    left = ev.select("event_id", "user_id", "ts", "value")
    right = (ev.filter(F.col("event_type") == "click")
               .groupBy("user_id", "ts")
               .agg(F.max("value").alias("click_value")))
    out = asof_join(left, right, on="ts", by="user_id",
                    tolerance=3600.0, direction="forward")
    return out.select(
        "event_id", "user_id",
        F.coalesce(F.col("r_ts").cast("double"), F.lit(-1.0))
         .alias("next_ts"),
        F.coalesce("r_click_value", F.lit(-1.0)).alias("click_value"))


def _events_asof_forward_sql():
    from cuvs_spark.operators.temporal import asof_join_sql
    return ("SELECT event_id, user_id, "
            "COALESCE(epoch(r_ts), -1.0) AS next_ts, "
            "COALESCE(r_click_value, -1.0) AS click_value "
            "FROM (" + asof_join_sql(
                "SELECT event_id, user_id, ts, value FROM events",
                "SELECT user_id, ts, max(value) AS click_value FROM events "
                "WHERE event_type = 'click' GROUP BY user_id, ts",
                on="ts", by="user_id", tolerance=3600.0,
                direction="forward",
                left_cols=["event_id", "user_id", "ts", "value"],
                right_cols=["click_value"]).strip() + ")")


register("events_asof_forward", _events_asof_forward,
         _events_asof_forward_sql())


def _knn_graph_edges(spark, sf_dir):
    from cuvs_spark.operators.brute_force import knn_self
    d = emb_dataset(spark, sf_dir)
    return knn_self(d, 10).select(F.col("qid").alias("src"),
                                  F.col("nid").alias("dst"))


def _knn_graph_edges_sql():
    return ("SELECT qid AS src, nid AS dst FROM ("
            + O.knn_sql(_D_SQL, _D_SQL.replace("nid", "qid")
                        .replace("dv", "qv"), 10, "sqeuclidean",
                        with_distance=False,
                        pair_where="q.qid <> d.nid").strip() + ")")


def _graph_degree_histogram(spark, sf_dir):
    """In-degree histogram of the exact kNN graph (k=10) — the CAGRA
    graph-quality audit (hub skew + the unreachable in_degree=0 row);
    same shared edge construction as the other three graph gates."""
    from cuvs_spark.operators.graph import degree_histogram
    return degree_histogram(_knn_graph_edges(spark, sf_dir))


def _graph_degree_histogram_sql():
    from cuvs_spark.operators.graph import degree_histogram_sql
    return degree_histogram_sql(_knn_graph_edges_sql())


register("graph_degree_histogram", _graph_degree_histogram,
         _graph_degree_histogram_sql())


def _graph_reciprocal_rate(spark, sf_dir):
    """Reciprocal-edge rate of the exact kNN graph (k=10) — the
    mutual-neighbor symmetry audit behind CAGRA's reverse-edge
    optimize pass; exact integer counts + one division."""
    from cuvs_spark.operators.graph import reciprocal_rate
    return reciprocal_rate(_knn_graph_edges(spark, sf_dir))


def _graph_reciprocal_rate_sql():
    from cuvs_spark.operators.graph import reciprocal_rate_sql
    return reciprocal_rate_sql(_knn_graph_edges_sql())


register("graph_reciprocal_rate", _graph_reciprocal_rate,
         _graph_reciprocal_rate_sql())


def _hubness_skew(spark, sf_dir):
    """k-occurrence (in-degree) skewness of the exact kNN graph — the
    Radovanović hubness scalar on top of the r8 degree histogram;
    integer moment algebra + a three-op skewness double."""
    from cuvs_spark.stats.metrics import hubness_moments
    return hubness_moments(_knn_graph_edges(spark, sf_dir))


def _hubness_skew_sql():
    from cuvs_spark.stats.metrics import hubness_moments_sql
    return hubness_moments_sql(_knn_graph_edges_sql())


register("stats_hubness_skew", _hubness_skew, _hubness_skew_sql())


def _map_lsh(spark, sf_dir):
    """MAP@10 of LSH kNN against the exact cosine top-10 relevant set
    — the every-relevant-neighbor companion to stats_mrr_lsh (MRR
    scores only the first hit; MAP penalizes burying ANY true
    neighbor). Rational-exact per-query AP sums (×2520 integers),
    Fraction-exact mean, clamped above the 0.75 bar (measured 0.94
    at gate scale with multi-probe on)."""
    from cuvs_spark.operators.lsh import lsh_knn
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 20)
    ann = lsh_knn(d, q, 10, n_planes=4, n_tables=8, n_probe_bits=2,
                  qvec_col="qv")
    truth = knn(d, q, 10, "cosine", qvec_col="qv").select("qid", "nid")
    return _clamp_pass(ST.map_score(ann, truth), "map", 0.75, "map_pass")


register("stats_map_lsh", _map_lsh,
         "SELECT CAST(1.0 AS DOUBLE) AS map_pass")


def _isotropy_hist(spark, sf_dir):
    """Cosine-similarity histogram over a deterministic md5-bucketed
    pairing of the embeddings — the anisotropy audit (Ethayarajh
    2019) run before trusting metric='cosine'; pure-integer bins from
    the shared bit-equal cosine template."""
    from cuvs_spark.stats.metrics import cosine_pair_histogram
    return cosine_pair_histogram(emb_dataset(spark, sf_dir),
                                 id_col="id", vec_col="vec")


def _isotropy_hist_sql():
    from cuvs_spark.stats.metrics import cosine_pair_histogram_sql
    return cosine_pair_histogram_sql(
        "SELECT vec_id, embedding FROM embeddings")


register("stats_isotropy_hist", _isotropy_hist, _isotropy_hist_sql())


_EV_SQL = "SELECT event_id, user_id, ts, event_type, value FROM events"


def _events_gap_stats(spark, sf_dir):
    """Per-user inter-event gap audit (count of >30 min silences, worst
    gap) — the liveness check behind sessionize; epoch-double lag
    arithmetic, null-free via the 0.0 coalesce."""
    from cuvs_spark.operators.temporal import gap_stats
    return gap_stats(events_table(spark, sf_dir)
                     .select("event_id", "user_id", "ts"))


def _events_gap_stats_sql():
    from cuvs_spark.operators.temporal import gap_stats_sql
    return gap_stats_sql("SELECT event_id, user_id, ts FROM events")


register("events_gap_stats", _events_gap_stats, _events_gap_stats_sql())


def _events_retention(spark, sf_dir):
    """Weekly cohort retention triangle — first-event week × activity
    offset × returning users; pure int64-micros bucket arithmetic."""
    from cuvs_spark.operators.temporal import retention_cohort
    return retention_cohort(events_table(spark, sf_dir)
                            .select("user_id", "ts"))


def _events_retention_sql():
    from cuvs_spark.operators.temporal import retention_cohort_sql
    return retention_cohort_sql("SELECT user_id, ts FROM events")


register("events_retention_cohort", _events_retention,
         _events_retention_sql())


def _events_burst(spark, sf_dir):
    """Hourly burst detection: windows whose event count beats 2× the
    trailing-3-window average, compared in cross-multiplied integers
    over a RANGE frame (quiet windows count as zero)."""
    from cuvs_spark.operators.temporal import burst_windows
    return burst_windows(events_table(spark, sf_dir).select("ts"))


def _events_burst_sql():
    from cuvs_spark.operators.temporal import burst_windows_sql
    return burst_windows_sql("SELECT ts FROM events")


register("events_burst_windows", _events_burst, _events_burst_sql())


def _chi2_terms(spark, sf_dir):
    """χ² feature selection: the 50 tokens most associated with the
    lang='en' label — the vocabulary-picking step before training a
    fastText-style quality/language classifier; exact integer 2×2
    contingencies, one division per term."""
    from cuvs_spark.pipeline.classify import chi2_terms
    d = T(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return chi2_terms(d, "lang = 'en'", 50)


def _chi2_terms_sql():
    from cuvs_spark.pipeline.classify import chi2_terms_sql
    return chi2_terms_sql("SELECT doc_id, text, lang FROM documents",
                          "lang = 'en'", 50)


register("text_chi2_terms", _chi2_terms, _chi2_terms_sql())


def _quality_auc(spark, sf_dir):
    """Mann-Whitney ROC AUC of document length as a predictor of the
    lang='en' label — the threshold-free score audit (does a
    quality/heuristic score actually rank the target class higher?);
    exact BIGINT rank-sum numerator + one division."""
    from cuvs_spark.stats.metrics import rank_auc
    d = T(spark, sf_dir, "documents").select("n_chars", "lang")
    return rank_auc(d, "n_chars", "lang = 'en'")


def _quality_auc_sql():
    from cuvs_spark.stats.metrics import rank_auc_sql
    return rank_auc_sql("SELECT n_chars, lang FROM documents",
                        "n_chars", "lang = 'en'")


register("stats_quality_auc", _quality_auc, _quality_auc_sql())


# ASCII-normalized doc text for the edit-distance gate: DuckDB's
# levenshtein counts bytes, Spark counts characters — identical only
# on ASCII, so the gate strips non-ASCII on BOTH engines (the Spark
# operator itself is fully Unicode; see edit_distance_pairs docstring)
_ASCII_SPARK = "regexp_replace(text, '[^ -~]', '')"
_ASCII_DUCK = "regexp_replace(text, '[^ -~]', '', 'g')"


def _edit_distance_pairs(spark, sf_dir):
    """Second-stage character-level near-dup verification: 40 injected
    single-substitution variants ('Z' + text[2:]) of docs 0-39 must
    pair with their sources at tiny Levenshtein distance; LSH
    candidates first, O(L²) DP only on the sliver. Integer-only
    output."""
    from cuvs_spark.pipeline.dedup import edit_distance_pairs
    d = (T(spark, sf_dir, "documents")
         .select(F.col("doc_id").cast("long").alias("doc_id"),
                 F.expr(_ASCII_SPARK).alias("text")))
    var = (d.filter(F.col("doc_id") < 40)
           .select((F.col("doc_id") + 500000).alias("doc_id"),
                   F.concat(F.lit("Z"), F.expr("substr(text, 2)"))
                   .alias("text")))
    return edit_distance_pairs(d.unionByName(var), 0.2)


def _edit_distance_pairs_sql():
    from cuvs_spark.pipeline.dedup import edit_distance_pairs_sql
    base = (f"SELECT doc_id, {_ASCII_DUCK} AS text FROM documents")
    src = (base + " UNION ALL SELECT doc_id + 500000 AS doc_id, "
           f"'Z' || substr(text, 2) AS text FROM ({base}) "
           "WHERE doc_id < 40")
    return edit_distance_pairs_sql(src, 0.2)


register("dedup_edit_distance", _edit_distance_pairs,
         _edit_distance_pairs_sql())


def _importance_sample(spark, sf_dir):
    """Quality-weighted deterministic downsampling: keep probability
    proportional to doc length via integer cross-multiplied md5
    buckets — no float threshold anywhere."""
    from cuvs_spark.pipeline.sampling import importance_weighted_sample
    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"))
    return importance_weighted_sample(d, "n_chars + 1")


def _importance_sample_sql():
    from cuvs_spark.pipeline.sampling import importance_weighted_sample_sql
    return importance_weighted_sample_sql(
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(n_chars AS BIGINT) AS n_chars FROM documents",
        "n_chars + 1")


register("sample_importance_weighted", _importance_sample,
         _importance_sample_sql())


def _triangle_stats(spark, sf_dir):
    """Triangle census of the mutual kNN graph — neighbors-of-
    neighbors consistency (3T/W global clustering coefficient), the
    second-order companion to the reciprocal-rate gate; sorted-triple
    joins, exact integer counts + one division."""
    from cuvs_spark.operators.graph import triangle_stats
    return triangle_stats(_knn_graph_edges(spark, sf_dir))


def _triangle_stats_sql():
    from cuvs_spark.operators.graph import triangle_stats_sql
    return triangle_stats_sql(_knn_graph_edges_sql())


register("graph_triangle_stats", _triangle_stats, _triangle_stats_sql())


def _kendall_bm25_vs_cosine(spark, sf_dir):
    """Kendall τ between the BM25 and cosine-kNN top-10 rankings the
    fusion gates combine — the pre-fusion agreement diagnostic; all-
    integer concordant/discordant pair counts over the per-query
    candidate intersection."""
    from cuvs_spark.pipeline.retrieval import bm25_search
    from cuvs_spark.stats.metrics import kendall_rank_agreement
    bm = (bm25_search(doc_table(spark, sf_dir),
                      _bm25_queries(spark, sf_dir), 10)
          .select("qid", F.col("doc_id").alias("nid"), "rank"))
    d = emb_dataset(spark, sf_dir)
    q = emb_queries(spark, sf_dir, 10)
    vec = knn(d, q, 10, "cosine", qvec_col="qv").select("qid", "nid",
                                                        "rank")
    return kendall_rank_agreement(bm, vec)


def _kendall_sql():
    from cuvs_spark.pipeline.retrieval import bm25_search_sql
    from cuvs_spark.stats.metrics import kendall_rank_agreement_sql
    bm_sql = ("SELECT qid, doc_id AS nid, rank FROM ("
              + bm25_search_sql(_DOC_SQL, _BM25_Q_SQL, 10).strip() + ")")
    vec_sql = ("SELECT qid, nid, rank FROM ("
               + O.knn_sql(_D_SQL, _Q_SQL.format(nq=10), 10,
                           "cosine").strip() + ")")
    return kendall_rank_agreement_sql(bm_sql, vec_sql)


register("stats_rank_corr_kendall", _kendall_bm25_vs_cosine,
         _kendall_sql())


def _ivf_list_sizes(spark, sf_dir):
    """IVF inverted-file balance audit: per-list occupancy including
    empty lists (the reference index's list_sizes array) — the table
    n_probes tuning starts from; fixed centroids make it SQL-exact."""
    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_list_sizes
    d = emb_dataset(spark, sf_dir)
    idx = ivf_flat_build(d, _IVF_LISTS,
                         centroids=_fixed_centroids(spark, sf_dir,
                                                    _IVF_LISTS))
    return ivf_list_sizes(idx)


def _ivf_list_sizes_sql():
    from cuvs_spark.operators.ivf_flat import ivf_list_sizes_sql
    return ivf_list_sizes_sql(_DA_SQL, _IVF_CENT_SQL)


register("ivf_list_sizes", _ivf_list_sizes, _ivf_list_sizes_sql())


def _fertility(spark, sf_dir):
    """Whitespace-tokenizer fertility (chars per token) by language —
    the audit that flags no-whitespace scripts before token-budget
    sampling trusts n_tokens; integer sums + one division."""
    from cuvs_spark.pipeline.text import fertility_by_group
    return fertility_by_group(T(spark, sf_dir, "documents")
                              .select("lang", "text"))


def _fertility_sql():
    from cuvs_spark.pipeline.text import fertility_by_group_sql
    return fertility_by_group_sql("SELECT lang, text FROM documents")


register("text_fertility_by_lang", _fertility, _fertility_sql())


def _rate_monitor_state(spark, sf_dir):
    """Two-epoch replay of the streaming rate monitor's foreachBatch
    body (``rate_monitor.burst_batch_against_state`` — SURVEY §2.9's
    ingestion-guard row): events split deterministically by
    ``event_id`` parity arrive as two micro-batches against a fresh
    state dir; each epoch's burst flags are judged against the MERGED
    committed counts as of that epoch, restricted to the buckets the
    epoch touched. Gates the versioned state merge + the shared batch
    flag stage end to end (previously pytest-only)."""
    import shutil
    import tempfile

    from cuvs_spark.streaming.rate_monitor import burst_batch_against_state
    ev = events_table(spark, sf_dir).select("event_id", "ts")
    state = tempfile.mkdtemp(prefix="gate_ratemon_")
    try:
        b0 = ev.filter(F.col("event_id") % 2 == 0).select("ts")
        b1 = ev.filter(F.col("event_id") % 2 == 1).select("ts")
        f0 = burst_batch_against_state(b0, state, 0)
        f1 = burst_batch_against_state(b1, state, 1)
        # localCheckpoint materializes the union so the returned frame
        # no longer reads the scratch state files pruned below
        return (f0.withColumn("epoch", F.lit(0).cast("long"))
                .unionByName(f1.withColumn("epoch", F.lit(1).cast("long")))
                .select("epoch", "bucket", "n_events", "prev_sum",
                        "is_burst")
                .localCheckpoint())
    finally:
        shutil.rmtree(state, ignore_errors=True)


def _rate_monitor_state_sql(window_s=3600, lookback=3, fp=2, fq=1):
    # epoch 0: flags over the parity-0 counts (its own buckets);
    # epoch 1: flags over the MERGED counts (= all events, since
    # epoch-0 counts + epoch-1 counts telescope), restricted to the
    # buckets parity-1 events touched — exactly the semi-join in
    # burst_batch_against_state. Same integer bucket, RANGE frame and
    # cross-multiplied compare as burst_windows_sql.
    div = int(window_s) * 1_000_000
    flag = (
        "SELECT bucket, n_events, "
        "CAST(COALESCE(sum(n_events) OVER (ORDER BY bucket RANGE "
        f"BETWEEN {lookback} PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
        "AS prev_sum, min(bucket) OVER () AS _min_b FROM {src}")
    pick = (
        f"SELECT CAST(bucket AS BIGINT) AS bucket, n_events, prev_sum, "
        f"CAST(CASE WHEN bucket - _min_b >= {lookback} AND "
        f"n_events * {lookback} * {fq} > {fp} * prev_sum "
        f"THEN 1 ELSE 0 END AS BIGINT) AS is_burst")
    return f"""
WITH c0 AS (
  SELECT epoch_us(ts) // {div} AS bucket,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events WHERE event_id % 2 = 0 GROUP BY 1
),
cmerged AS (
  SELECT epoch_us(ts) // {div} AS bucket,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
b1 AS (
  SELECT DISTINCT epoch_us(ts) // {div} AS bucket
  FROM events WHERE event_id % 2 = 1
),
w0 AS ({flag.format(src='c0')}),
w1 AS ({flag.format(src='cmerged')})
SELECT CAST(0 AS BIGINT) AS epoch, * FROM ({pick} FROM w0)
UNION ALL
SELECT CAST(1 AS BIGINT) AS epoch, * FROM
  ({pick} FROM w1 WHERE bucket IN (SELECT bucket FROM b1))
"""


register("events_rate_monitor_state", _rate_monitor_state,
         _rate_monitor_state_sql())


def _dispatch_plan(spark, sf_dir):
    """dynamic_batching dispatch formation (``dynamic_batching.hpp:
    24-70``; SURVEY §2.5): the production queue-splitting expression
    (``dispatch_assignments`` — the same function ``on_batch`` runs
    per trigger) packs the embedding ids as one queued micro-batch
    into dispatches of ≤64, summarized per dispatch. Gates the
    max_batch_size cap and greedy qid-order packing (previously
    pytest-only)."""
    from cuvs_spark.streaming.dynamic_batching import dispatch_assignments
    q = (T(spark, sf_dir, "embeddings")
         .select(F.col("vec_id").cast("long").alias("qid")))
    a = dispatch_assignments(q, 64, qid_col="qid")
    return (a.groupBy("_dispatch")
            .agg(F.count("*").cast("long").alias("n_queries"),
                 F.min("qid").cast("long").alias("min_qid"),
                 F.max("qid").cast("long").alias("max_qid"))
            .select(F.col("_dispatch").alias("dispatch"),
                    "n_queries", "min_qid", "max_qid"))


def _dispatch_plan_sql():
    return """
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS qid FROM embeddings),
a AS (
  SELECT qid,
         (row_number() OVER (ORDER BY qid) - 1) // 64 AS dispatch
  FROM q
)
SELECT CAST(dispatch AS BIGINT) AS dispatch,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(min(qid) AS BIGINT) AS min_qid,
       CAST(max(qid) AS BIGINT) AS max_qid
FROM a GROUP BY dispatch
"""


register("dynamic_batching_dispatch", _dispatch_plan, _dispatch_plan_sql())


def _events_asof_keyless(spark, sf_dir):
    """Distributed KEYLESS as-of (``asof_join(keyless_partitions=8)``
    — ``temporal.py:31``'s range-partition + broadcast carry-in scale
    path, the r9 flagship previously pytest-only) vs DuckDB's native
    ASOF: every event attaches the latest click at or before it,
    corpus-wide with NO by key, so the whole join is one global
    merge-scan distributed across 8 range partitions. Right side
    pre-aggregates to unique ts so exact-tie winners are
    engine-independent; unmatched rows surface as -1 sentinels
    (null-free hashed output)."""
    from cuvs_spark.operators.temporal import asof_join
    ev = events_table(spark, sf_dir)
    left = ev.select("event_id", "ts")
    right = (ev.filter(F.col("event_type") == "click")
               .groupBy("ts")
               .agg(F.max("value").alias("click_value")))
    out = asof_join(left, right, on="ts", keyless_partitions=8)
    return out.select(
        "event_id",
        F.coalesce(F.col("r_ts").cast("double"), F.lit(-1.0))
         .alias("asof_ts"),
        F.coalesce("r_click_value", F.lit(-1.0)).alias("click_value"))


def _events_asof_keyless_sql():
    from cuvs_spark.operators.temporal import asof_join_sql
    return ("SELECT event_id, "
            "COALESCE(epoch(r_ts), -1.0) AS asof_ts, "
            "COALESCE(r_click_value, -1.0) AS click_value "
            "FROM (" + asof_join_sql(
                "SELECT event_id, ts FROM events",
                "SELECT ts, max(value) AS click_value FROM events "
                "WHERE event_type = 'click' GROUP BY ts",
                on="ts", by=None,
                left_cols=["event_id", "ts"],
                right_cols=["click_value"]).strip() + ")")


register("events_asof_keyless_ranged", _events_asof_keyless,
         _events_asof_keyless_sql())


# corpus for the dedup-stream composition gate: originals plus four
# injected families chosen so every stream path fires — same-parity
# exact copies (batch-internal exact dedup), cross-parity exact copies
# (delta-vs-state digest drop), cross-parity near copies (LSH band join
# delta × state + exact-Jaccard verify), and same-parity near copies
# (the NEGATIVE case: batch-internal near-dups are by design not
# checked, so they must survive)
_DEDUP_STREAM_DOCS_SQL = """SELECT doc_id, text FROM documents
UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 25
UNION ALL SELECT doc_id + 100001 AS doc_id, text FROM documents WHERE doc_id >= 25 AND doc_id < 50
UNION ALL SELECT doc_id + 200001 AS doc_id, text || ' zq1 zq2' AS text FROM documents WHERE doc_id >= 50 AND doc_id < 75
UNION ALL SELECT doc_id + 300000 AS doc_id, text || ' zq1 zq2' AS text FROM documents WHERE doc_id >= 75 AND doc_id < 100"""


def _dedup_stream_docs(spark, sf_dir):
    d = doc_table(spark, sf_dir)
    plus = F.concat(F.col("text"), F.lit(" zq1 zq2")).alias("text")
    exact_same = (d.filter(F.col("doc_id") < 25)
                  .select((F.col("doc_id") + 100000).alias("doc_id"),
                          "text"))
    exact_cross = (d.filter((F.col("doc_id") >= 25)
                            & (F.col("doc_id") < 50))
                   .select((F.col("doc_id") + 100001).alias("doc_id"),
                           "text"))
    near_cross = (d.filter((F.col("doc_id") >= 50)
                           & (F.col("doc_id") < 75))
                  .select((F.col("doc_id") + 200001).alias("doc_id"),
                          plus))
    # +300000 (not +200000): 74+200001 == 75+200000 would collide
    # two injected doc_ids, and duplicate ids fan out differently
    # through semi-joins than through the oracle's GROUP BY
    near_same = (d.filter((F.col("doc_id") >= 75)
                          & (F.col("doc_id") < 100))
                 .select((F.col("doc_id") + 300000).alias("doc_id"),
                         plus))
    return (d.unionByName(exact_same).unionByName(exact_cross)
            .unionByName(near_cross).unionByName(near_same))


def _dedup_stream_epochs(spark, sf_dir):
    """Two-epoch exactly-once composition of the MinHash dedup stream
    (``dedup_stream.dedup_batch_against_state`` — the exact
    foreachBatch body ``start_streaming_dedup`` runs, with the same
    epoch-keyed state commits, run binding, and durable accepted
    output): docs split by doc_id parity arrive as epoch 0 then epoch
    1 against a fresh state dir, and epoch 0 is then REPLAYED — the
    committed-epoch short-circuit must return the identical durable
    rows (replay=1 twin of the replay=0 epoch-0 block). The oracle
    recomputes the full composition in SQL: per-epoch batch-internal
    exact dedup, delta-vs-state digest drop, and the LSH band join ×
    exact shingle-Jaccard near-dup stage (all templates shared with
    the driver-proven ``dedup_minhash_lsh_pairs`` gate). The scratch
    state dir is removed after localCheckpoint materializes the
    result."""
    import os
    import shutil
    import tempfile

    from cuvs_spark.streaming.dedup_stream import dedup_batch_against_state
    docs = _dedup_stream_docs(spark, sf_dir)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    root = tempfile.mkdtemp(prefix="gate_dedupstream_")
    try:
        state = os.path.join(root, "state")
        acc = os.path.join(root, "acc")

        def step(batch, epoch):
            return dedup_batch_against_state(
                batch, state, jaccard_threshold=0.5, epoch_id=epoch,
                accepted_path=os.path.join(acc, f"epoch={epoch}"),
                run_id="gate-run")

        a0 = step(b0, 0)
        a1 = step(b1, 1)
        r0 = step(b0, 0)      # replay: committed-epoch short-circuit

        def tag(df, e, rp):
            return df.select(
                F.lit(e).cast("long").alias("epoch"),
                F.lit(rp).cast("long").alias("replay"),
                F.col("doc_id").cast("long").alias("doc_id"))

        return (tag(a0, 0, 0).unionByName(tag(a1, 1, 0))
                .unionByName(tag(r0, 0, 1)).localCheckpoint())
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _dedup_stream_epochs_sql(thr=0.5):
    """DuckDB twin of the two-epoch dedup-stream composition, built
    from the same shingle/hash/signature/band templates as the
    driver-proven ``dedup_minhash_lsh_pairs`` oracle: epoch-0 accepted
    = batch-internal exact survivors (state empty), epoch-1 accepted =
    batch-internal exact survivors, minus state digests, minus LSH
    band candidates (delta × state only — batch-internal near-dups are
    NOT checked, mirroring the stream) verified by exact shingle
    Jaccard ≥ thr; the replay block duplicates epoch 0."""
    from cuvs_spark.pipeline.dedup import (
        BAND_R,
        H32_DUCK,
        H64_DUCK,
        N_HASHES,
        SHINGLES_DUCK,
        TOKS_DUCK,
        _check_bands,
        _sig_exprs_duck,
    )
    n_bands = _check_bands(N_HASHES, BAND_R)
    sh = SHINGLES_DUCK.format(t=TOKS_DUCK.format(s="text"))
    hs = "list_transform(sh, s -> " + H32_DUCK.format(s="s") + ")"
    exprs = ", ".join(f"({e})" for e in _sig_exprs_duck(n_hashes=N_HASHES))

    def bands(src):
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            + " || '-' || ".join(
                f"CAST(sig[{b * BAND_R + r + 1}] AS VARCHAR)"
                for r in range(BAND_R))
            + f" AS key FROM {src}"
            for b in range(n_bands))

    jac = ("CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) "
           "/ len(list_distinct(a.sh || b.sh))")
    return f"""
WITH docs AS ({_DEDUP_STREAM_DOCS_SQL}),
d1 AS (SELECT doc_id, {H64_DUCK.format(s='text')} AS text_hash,
              {sh} AS sh FROM docs),
d2 AS (SELECT doc_id, text_hash, sh, {hs} AS hs FROM d1),
feat AS (SELECT doc_id, text_hash, sh, [{exprs}] AS sig FROM d2),
e0 AS (SELECT * FROM feat WHERE doc_id % 2 = 0),
e1 AS (SELECT * FROM feat WHERE doc_id % 2 = 1),
acc0 AS (
  SELECT f.* FROM e0 f
  JOIN (SELECT text_hash, min(doc_id) AS doc_id FROM e0
        GROUP BY text_hash) c
    ON f.doc_id = c.doc_id
),
e1c AS (
  SELECT f.* FROM e1 f
  JOIN (SELECT text_hash, min(doc_id) AS doc_id FROM e1
        GROUP BY text_hash) c
    ON f.doc_id = c.doc_id
),
e1x AS (
  SELECT * FROM e1c
  WHERE text_hash NOT IN (SELECT text_hash FROM acc0)
),
b1 AS ({bands('e1x')}),
b0 AS ({bands('acc0')}),
cand AS (
  SELECT DISTINCT x.doc_id AS d, y.doc_id AS s
  FROM b1 x JOIN b0 y ON x.band = y.band AND x.key = y.key
),
near AS (
  SELECT DISTINCT c.d AS doc_id
  FROM cand c JOIN e1x a ON a.doc_id = c.d
              JOIN acc0 b ON b.doc_id = c.s
  WHERE {jac} >= {thr}
),
acc1 AS (
  SELECT * FROM e1x WHERE doc_id NOT IN (SELECT doc_id FROM near)
)
SELECT CAST(0 AS BIGINT) AS epoch, CAST(0 AS BIGINT) AS replay,
       CAST(doc_id AS BIGINT) AS doc_id FROM acc0
UNION ALL
SELECT CAST(1 AS BIGINT) AS epoch, CAST(0 AS BIGINT) AS replay,
       CAST(doc_id AS BIGINT) AS doc_id FROM acc1
UNION ALL
SELECT CAST(0 AS BIGINT) AS epoch, CAST(1 AS BIGINT) AS replay,
       CAST(doc_id AS BIGINT) AS doc_id FROM acc0
"""


register("dedup_stream_minhash_epochs", _dedup_stream_epochs,
         _dedup_stream_epochs_sql())


def _bloom_stream_epochs(spark, sf_dir):
    """Two-epoch exactly-once composition of the streaming Bloom dedup
    (``bloom_stream.bloom_dedup_batch_against_state`` — the exact
    foreachBatch body ``start_streaming_bloom_dedup`` runs, with the
    epoch-keyed versioned state commit, run binding, and durable
    accepted output): the injected-dup corpus split by doc_id parity
    arrives as epoch 0 then epoch 1, and epoch 1 — the LATEST
    committed epoch, the only one a checkpointed stream can replay
    under the ≤2-versions prune — is then REPLAYED (the
    committed-epoch short-circuit must return the identical durable
    rows). The filter is deliberately SMALL (63·64 = 4032 bits for
    ~1.4k set bits) so false positives REALLY occur and both engines
    must agree on them — the md5 bit positions are deterministic, and
    a probe's word-AND-mask test is exactly set-membership of its bit
    position in the positions the state's texts set (the
    ``dedup_against_bloom`` parity, composed across epochs). Scratch
    state removed after localCheckpoint materializes the result."""
    import os
    import shutil
    import tempfile

    from cuvs_spark.streaming.bloom_stream import (
        bloom_dedup_batch_against_state,
    )
    docs = _dedup_stream_docs(spark, sf_dir)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    root = tempfile.mkdtemp(prefix="gate_bloomstream_")
    try:
        state = os.path.join(root, "state")
        acc = os.path.join(root, "acc")

        def step(batch, epoch):
            return bloom_dedup_batch_against_state(
                batch, state, m_bits=63 * 64, k=4, epoch_id=epoch,
                accepted_path=os.path.join(acc, f"epoch={epoch}"),
                run_id="gate-run")

        a0 = step(b0, 0)
        a1 = step(b1, 1)
        r1 = step(b1, 1)      # replay of the LATEST committed epoch

        def tag(df, e, rp):
            return df.select(
                F.lit(e).cast("long").alias("epoch"),
                F.lit(rp).cast("long").alias("replay"),
                F.col("doc_id").cast("long").alias("doc_id"))

        return (tag(a0, 0, 0).unionByName(tag(a1, 1, 0))
                .unionByName(tag(r1, 1, 1)).localCheckpoint())
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _bloom_stream_epochs_sql(m_bits=63 * 64, k=4):
    """DuckDB twin of the two-epoch Bloom-stream composition: epoch-0
    accepted = batch-internal exact survivors (lowest doc_id per md5
    digest; the filter starts empty), epoch-1 accepted = batch-internal
    exact survivors whose k probe positions are NOT ALL in the set of
    positions epoch-0's accepted texts set (bit-or of masks = the SET
    of positions, so word-AND-mask ≠ 0 ⟺ position membership — false
    positives reproduce exactly); the replay block duplicates epoch 1
    (the latest committed epoch, the only in-contract replay under the
    ≤2-versions prune)."""
    from cuvs_spark.pipeline.dedup import H64_DUCK

    def positions(src):
        return " UNION ALL ".join(
            f"SELECT doc_id, {H64_DUCK.format(s=h)} % {m_bits} AS p "
            f"FROM {src}"
            for i in range(k)
            for h in [f"(text || '#bloom{i}')"])

    return f"""
WITH docs AS ({_DEDUP_STREAM_DOCS_SQL}),
d AS (SELECT doc_id, text, {H64_DUCK.format(s='text')} AS text_hash
      FROM docs),
e0 AS (SELECT * FROM d WHERE doc_id % 2 = 0),
e1 AS (SELECT * FROM d WHERE doc_id % 2 = 1),
acc0 AS (
  SELECT f.doc_id, f.text FROM e0 f
  JOIN (SELECT text_hash, min(doc_id) AS doc_id FROM e0
        GROUP BY text_hash) c
    ON f.doc_id = c.doc_id
),
e1c AS (
  SELECT f.doc_id, f.text FROM e1 f
  JOIN (SELECT text_hash, min(doc_id) AS doc_id FROM e1
        GROUP BY text_hash) c
    ON f.doc_id = c.doc_id
),
pos0 AS (SELECT DISTINCT p FROM ({positions('acc0')})),
probes AS ({positions('e1c')}),
hits AS (
  SELECT doc_id,
         CASE WHEN p IN (SELECT p FROM pos0) THEN 1 ELSE 0 END AS hit
  FROM probes
),
acc1 AS (SELECT doc_id FROM hits GROUP BY doc_id HAVING min(hit) = 0)
SELECT CAST(0 AS BIGINT) AS epoch, CAST(0 AS BIGINT) AS replay,
       CAST(doc_id AS BIGINT) AS doc_id FROM acc0
UNION ALL
SELECT CAST(1 AS BIGINT) AS epoch, CAST(0 AS BIGINT) AS replay,
       CAST(doc_id AS BIGINT) AS doc_id FROM acc1
UNION ALL
SELECT CAST(1 AS BIGINT) AS epoch, CAST(1 AS BIGINT) AS replay,
       CAST(doc_id AS BIGINT) AS doc_id FROM acc1
"""


register("bloom_stream_exact_epochs", _bloom_stream_epochs,
         _bloom_stream_epochs_sql())
