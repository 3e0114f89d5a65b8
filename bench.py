"""Headline benchmark — prints ONE JSON line for the driver.

Runs the engine's flagship operators at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query is forced
through the "noop" sink so every column is fully computed (a bare
count() would let Catalyst prune the math away).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_benches(spark, sf_dir):
    """The 38 timed entries as ``{name: zero-arg callable -> DataFrame}``.

    Shared by ``main()`` (which times them) and the r14 plan-capture
    tool (which only ``explain``s them) so both always see the same
    plans. Source tables are cached and search indexes are built
    (materialized, untimed) as part of construction/first call, exactly
    as before the r14 refactor — construction cost never lands in a
    timed section either way.
    """
    from pyspark.sql import functions as F

    from cuvs_spark.entry_queries import QUERIES, T, emb_dataset

    def bench_entry(name):
        def run():
            return QUERIES[name](spark, sf_dir)
        return run

    def bench_knn_blas_wide():
        # every embedding row queries the full table (self-join shape)
        from cuvs_spark.operators import knn
        d = emb_dataset(spark, sf_dir)
        q = d.select(F.col("id").alias("qid"), F.col("vec").alias("qv"))
        return knn(d, q, 10, "euclidean", qvec_col="qv", method="blas")

    def bench_kmeans_fit():
        from cuvs_spark.cluster import kmeans_fit
        d = emb_dataset(spark, sf_dir)
        model = kmeans_fit(d.select("id", "vec"), 16, max_iter=5, seed=11)
        return model.centroids_df(spark)

    def bench_minhash_full():
        from cuvs_spark.pipeline.dedup import minhash_lsh_pairs
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return minhash_lsh_pairs(docs, jaccard_threshold=0.3)

    def bench_fingerprints():
        from cuvs_spark.pipeline.text import doc_fingerprints
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return doc_fingerprints(docs, hash_fn="xxhash64")

    def bench_eps_blas():
        # r9 re-base (r8 verdict #4): the old 2k-row entry took ~0.5 s
        # dominated by fixed Arrow/python-worker startup, so its ratio
        # vs the r2 anchor measured overhead, not the operator (which
        # the 200k-row probe shows linear). 12× replication with
        # per-replica perturbation → a 24k × 24k BLAS range join
        # (~74 GFLOP of tile GEMM) where compute dominates; renamed
        # eps_neighborhood_blas_24k so drift tooling treats it as a
        # new entry instead of a 6× "regression".
        from cuvs_spark.operators import epsilon_neighborhood_blas
        d = emb_dataset(spark, sf_dir).select("id", "vec")
        reps = spark.range(12).select(F.col("id").alias("_k"))
        big = (d.crossJoin(reps)
               .select((F.col("id") * 12 + F.col("_k")).alias("id"),
                       F.expr("transform(vec, x -> x + CAST(_k AS FLOAT)"
                              " * CAST(0.01 AS FLOAT))").alias("vec"))
               # keep each worker's distance tile ~375×24k×8B ≈ 72 MB
               # (one oversized Arrow batch would tile 10k×24k ≈ 2 GB)
               .repartition(64))
        return epsilon_neighborhood_blas(big, None, 0.5, "sqeuclidean")

    # vamana and cagra consume the SAME base kNN graph (degree 32, same
    # clustering params); build it once, materialized untimed like the
    # search benches' index builds, so the two entries time their
    # distinctive phase (RobustPrune / reverse-edge optimize) instead of
    # re-running one identical all_neighbors job twice per pass.
    def _base_graph():
        from cuvs_spark.operators.graph import all_neighbors_build
        if "an_base" not in _built:
            d = emb_dataset(spark, sf_dir)
            g = all_neighbors_build(d, 32, n_clusters=8, overlap_factor=2,
                                    kmeans_n_iters=4, method="blas")
            g = g.localCheckpoint()
            g.count()
            _built["an_base"] = g
        return _built["an_base"]

    def bench_all_neighbors():
        # the shared base graph's build cost, timed end-to-end as its
        # own entry (same params as _base_graph) so the headline can't
        # be read as hiding the all_neighbors cost behind the untimed
        # materialization: end-to-end cagra = this + cagra_build_optimize
        from cuvs_spark.operators.graph import all_neighbors_build
        d = emb_dataset(spark, sf_dir)
        return all_neighbors_build(d, 32, n_clusters=8, overlap_factor=2,
                                   kmeans_n_iters=4, method="blas")

    def bench_cagra_build():
        from cuvs_spark.operators.graph import cagra_optimize
        return cagra_optimize(_base_graph().drop("rank"), 16)

    def bench_vamana_build():
        from cuvs_spark.operators.vamana import robust_prune
        d = emb_dataset(spark, sf_dir)
        return robust_prune(_base_graph().drop("rank"), d, 16, 1.2,
                            visited_size=32, method="local")

    # Source tables are cached ONCE up front (the reference harness
    # likewise loads the dataset into memory before its timed phases);
    # Spark's CacheManager matches by logical plan, so every bench's
    # fresh spark.read.parquet of the same path hits the InMemoryRelation.
    for _t in ("embeddings", "documents", "events"):
        T(spark, sf_dir, _t).cache().count()

    # Search benches build their index ONCE, materialized outside the
    # timed section (the reference's harness likewise reports build and
    # search as separate phases) — otherwise every lazy search re-runs
    # the whole build lineage and the number measures python-worker
    # churn, not search throughput.
    _built: dict = {}

    def _centroids32(d):
        import numpy as np
        return np.array([r["vec"] for r in
                         d.filter(F.col("id") < 32).collect()], dtype=float)

    def bench_scann_search():
        from cuvs_spark.operators.scann import scann_build, scann_search
        d = emb_dataset(spark, sf_dir)
        if "scann" not in _built:
            idx = scann_build(d, 32, centroids=_centroids32(d),
                              method="blas")
            idx.assignments.cache().count()
            idx.vectors.cache().count()
            _built["scann"] = idx
        q = d.select(F.col("id").alias("qid"), F.col("vec").alias("qv"))
        return scann_search(_built["scann"], q, 10, 8, qvec_col="qv",
                            score_method="blas")

    def bench_rabitq_search():
        from cuvs_spark.operators.ivf_rabitq import (ivf_rabitq_build,
                                                     ivf_rabitq_search)
        d = emb_dataset(spark, sf_dir)
        if "rabitq" not in _built:
            idx = ivf_rabitq_build(d, 32, bits_per_dim=3,
                                   centroids=_centroids32(d))
            idx.codes.cache().count()
            _built["rabitq"] = idx
        q = d.select(F.col("id").alias("qid"), F.col("vec").alias("qv"))
        return ivf_rabitq_search(_built["rabitq"], q, 10, 8, qvec_col="qv",
                                 score_method="blas")

    def bench_ivf_pq_search():
        from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
        d = emb_dataset(spark, sf_dir)
        if "pq" not in _built:
            idx = ivf_pq_build(d, 32, pq_dim=8, pq_bits=6,
                               encode="residual",
                               centroids=_centroids32(d), method="blas")
            idx.codes.cache().count()
            _built["pq"] = idx
        q = d.select(F.col("id").alias("qid"), F.col("vec").alias("qv"))
        return ivf_pq_search(_built["pq"], q, 10, 8, qvec_col="qv",
                             method="blas")

    def bench_curate_corpus():
        return QUERIES["pipeline_curate_corpus"](spark, sf_dir)

    def bench_repetition():
        from cuvs_spark.pipeline.text import repetition_stats
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return repetition_stats(docs)

    def bench_asof_join():
        return QUERIES["events_asof_join"](spark, sf_dir)

    def bench_pii_scrub():
        from cuvs_spark.pipeline.text import pii_scrub
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return pii_scrub(docs)

    def bench_semantic_dedup():
        from cuvs_spark.pipeline.dedup import semantic_dedup
        return semantic_dedup(T(spark, sf_dir, "embeddings"),
                              n_clusters=16, tau=0.15, method="blas")

    def bench_classifier():
        from cuvs_spark.pipeline.classify import (classifier_score,
                                                  synthetic_weights)
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        if "clf_w" not in _built:
            w = synthetic_weights(spark, 1 << 16).localCheckpoint()
            w.count()
            _built["clf_w"] = w
        return classifier_score(docs, _built["clf_w"], n_buckets=1 << 16)

    def bench_substring_dedup():
        from cuvs_spark.pipeline.dedup import substring_dedup
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return substring_dedup(docs, window=8)

    def bench_chunk_documents():
        from cuvs_spark.pipeline.text import chunk_documents
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return chunk_documents(docs, chunk_tokens=128, overlap=16)

    def bench_tfidf_keywords():
        from cuvs_spark.pipeline.text import tfidf_keywords
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return tfidf_keywords(docs, 5)

    def bench_pack_greedy():
        return QUERIES["pipeline_pack_greedy"](spark, sf_dir)

    def bench_cap_per_source():
        from cuvs_spark.pipeline.sampling import cap_per_group
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"),
                        "source"))
        return cap_per_group(docs, 500, group_col="source")

    def bench_boilerplate_lines():
        from cuvs_spark.pipeline.dedup import boilerplate_lines
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return boilerplate_lines(docs, min_docs=3)

    def bench_token_budget():
        from cuvs_spark.pipeline.sampling import token_budget_sample
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"),
                        "source", "text"))
        return token_budget_sample(docs, 20_000)

    def bench_bm25():
        return QUERIES["text_bm25_topk"](spark, sf_dir)

    def bench_bm25_pruned():
        # the production serving path: df-pruned stopwords cap every
        # posting list BEFORE the query join (max_df_frac=0.1; the
        # exact entry above scores every term)
        from cuvs_spark.entry_queries import _bm25_queries
        from cuvs_spark.pipeline.retrieval import bm25_search
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return bm25_search(docs, _bm25_queries(spark, sf_dir), 10,
                           max_df_frac=0.1)

    def bench_top_ngrams():
        from cuvs_spark.pipeline.text import top_ngrams
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return top_ngrams(docs, n=2, k=50)

    def bench_cdc_chunks():
        from cuvs_spark.pipeline.dedup import cdc_chunks
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return cdc_chunks(docs)

    def bench_dedup_against():
        # delta = 10% of the corpus re-ingested with a 2-token edit —
        # the weekly-crawl shape at bench scale
        from cuvs_spark.pipeline.dedup import dedup_against
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        delta = (docs.filter(F.col("doc_id") % 10 == 0)
                 .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                         F.concat(F.col("text"),
                                  F.lit(" zq1 zq2")).alias("text")))
        return dedup_against(docs, delta)

    def bench_maxsim_rerank():
        # two-stage ColBERT serving shape: pooled-vector ANN candidates
        # (top-20 cosine) → exact MaxSim re-rank over candidates only
        from cuvs_spark.operators.brute_force import knn
        from cuvs_spark.pipeline.retrieval import maxsim_search
        e = T(spark, sf_dir, "embeddings")
        toks = e.select(F.expr("CAST(vec_id DIV 5 AS BIGINT)").alias("doc_id"),
                        F.expr("pmod(vec_id, 5)").alias("tok_idx"),
                        F.col("embedding").alias("vec"))
        # one SQL-string expression instead of 64 Column-API aggregate
        # trees: the resolved plan is IDENTICAL (canonicalized-plan
        # equality + exceptAll 0/0 verified), but construction goes
        # from ~1,800 py4j driver roundtrips to one expr parse —
        # the entry times construction + execution, and the old form
        # spent ~0.5 s of pure driver-side churn building the same tree
        pooled_expr = "array(" + ", ".join(
            f"round(avg(vec[{i}]), 6)" for i in range(64)) + ")"
        pooled = (toks.groupBy("doc_id")
                  .agg(F.expr(pooled_expr).alias("vec"))
                  .withColumnRenamed("doc_id", "id"))
        qtoks = toks.filter(F.col("doc_id") < 50) \
                    .withColumnRenamed("doc_id", "qid")
        qpool = (pooled.filter(F.col("id") < 50)
                 .select(F.col("id").alias("qid"), F.col("vec").alias("qv")))
        cand = (knn(pooled, qpool, 20, "cosine", qvec_col="qv",
                    with_distance=False)
                .select("qid", F.col("nid").alias("doc_id")))
        return maxsim_search(toks, qtoks, 10, candidates=cand)

    def bench_bloom_dedup():
        # same weekly-delta shape as dedup_against_delta, but through
        # the fixed-size Bloom membership pre-filter (10 bits/key)
        from cuvs_spark.pipeline.dedup import dedup_against_bloom
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        delta = (docs.filter(F.col("doc_id") % 10 == 0)
                 .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                         "text"))
        return dedup_against_bloom(docs, delta, m_bits=63 * 1024)

    def bench_ngram_novelty():
        from cuvs_spark.pipeline.text import ngram_novelty
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text"))
        return ngram_novelty(docs, 3)

    def bench_chi2_terms():
        from cuvs_spark.pipeline.classify import chi2_terms
        docs = (T(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("long").alias("doc_id"),
                        "text", "lang"))
        return chi2_terms(docs, "lang = 'en'", 50)

    def bench_gap_stats():
        from cuvs_spark.entry_queries import events_table
        from cuvs_spark.operators.temporal import gap_stats
        return gap_stats(events_table(spark, sf_dir)
                         .select("event_id", "user_id", "ts"))

    benches = {
        "knn_bf_cosine_expr": bench_entry("knn_bf_cosine"),
        "all_neighbors_base": bench_all_neighbors,
        "cagra_build_optimize": bench_cagra_build,
        "ivf_pq_search_residual": bench_ivf_pq_search,
        "pipeline_curate_corpus": bench_curate_corpus,
        "vamana_build_prune": bench_vamana_build,
        "scann_search_full": bench_scann_search,
        "ivf_rabitq_search_full": bench_rabitq_search,
        "knn_bf_euclidean_blas_all": bench_knn_blas_wide,
        "ivf_flat_search": bench_entry("ivf_flat_search"),
        "kmeans_fit_16x5": bench_kmeans_fit,
        "dedup_minhash_lsh": bench_minhash_full,
        "dedup_simhash_near_dup": bench_entry("dedup_simhash_near_dup"),
        "text_fingerprints": bench_fingerprints,
        "text_quality_score": bench_entry("text_quality_score"),
        "text_repetition_stats": bench_repetition,
        "events_asof_join": bench_asof_join,
        "text_pii_scrub": bench_pii_scrub,
        "dedup_semantic_blas": bench_semantic_dedup,
        "eps_neighborhood_blas_24k": bench_eps_blas,
        "text_classifier_score": bench_classifier,
        "dedup_substrings": bench_substring_dedup,
        "text_chunk_documents": bench_chunk_documents,
        "text_tfidf_keywords": bench_tfidf_keywords,
        "sample_cap_per_source": bench_cap_per_source,
        "pipeline_pack_greedy": bench_pack_greedy,
        "dedup_boilerplate_lines": bench_boilerplate_lines,
        "sample_token_budget": bench_token_budget,
        "text_top_ngrams": bench_top_ngrams,
        "text_bm25_topk": bench_bm25,
        "text_bm25_topk_pruned": bench_bm25_pruned,
        "dedup_cdc_chunks": bench_cdc_chunks,
        "dedup_against_delta": bench_dedup_against,
        "text_maxsim_rerank": bench_maxsim_rerank,
        "dedup_against_bloom": bench_bloom_dedup,
        "text_ngram_novelty": bench_ngram_novelty,
        "text_chi2_terms": bench_chi2_terms,
        "events_gap_stats": bench_gap_stats,
    }
    return benches


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from pyspark.sql import functions as F

    from cuvs_spark import get_spark

    spark = get_spark("cuvs_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    benches = build_benches(spark, sf_dir)

    # Fixed-cost canary (r7 verdict #2): a constant JVM-only aggregate
    # with no data, no cache, and no plan that any round's changes can
    # touch. Timed at the start and end of each timed pass, it
    # separates host/JVM-session drift (canary moves with the entries)
    # from real plan regressions (canary flat, one entry moves):
    # 1,500+ stages of catalog/GC pressure accumulate in this single
    # JVM, and round-over-round comparisons need that measured, not
    # assumed.
    def run_canary() -> float:
        t0 = time.time()
        (spark.range(0, 2_000_000, 1, 8)
         .selectExpr("sum(id * 3 + 1) AS s", "count(*) AS c")
         .write.format("noop").mode("overwrite").save())
        return round(time.time() - t0, 3)

    # 3-shape canary BASKET (r11 verdict #4): the single JVM-only
    # aggregate above doesn't track suite-level host state — in r11 it
    # reported the host 0.91× while every entry ran ~1.12× slower,
    # over-correcting 15 untouched queries past the 1.25× bar. The
    # basket spans the three cost shapes the suite is made of, each
    # fixed-cost and untouched by round-over-round code changes:
    # a shuffle-heavy exchange, an Arrow-heavy Python round-trip, and
    # a parquet scan of a frozen table. bench_drift.py normalizes by
    # the MEDIAN per-shape factor.
    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    def canary_shuffle() -> float:
        t0 = time.time()
        _noop(spark.range(0, 1_500_000, 1, 16)
              .selectExpr("pmod(id, 997) AS k", "id")
              .groupBy("k").agg(F.sum("id").alias("s"),
                                F.count("*").alias("c")))
        return round(time.time() - t0, 3)

    def canary_arrow() -> float:
        import pandas as _pd

        def _sq(batches):
            for pdf in batches:
                yield _pd.DataFrame({"s": [int((pdf["id"] * 2).sum())]})

        t0 = time.time()
        _noop(spark.range(0, 400_000, 1, 8).mapInPandas(_sq, "s long"))
        return round(time.time() - t0, 3)

    def canary_scan() -> float:
        t0 = time.time()
        _noop(spark.read.parquet(f"{sf_dir}/lineitem.parquet")
              .selectExpr("sum(l_extendedprice) AS s",
                          "sum(l_quantity) AS q", "count(*) AS c"))
        return round(time.time() - t0, 3)

    basket_fns = {"shuffle": canary_shuffle, "arrow": canary_arrow,
                  "scan": canary_scan}
    canary_basket: dict[str, list[float]] = {k: [] for k in basket_fns}

    def run_basket() -> None:
        for name, fn in basket_fns.items():
            canary_basket[name].append(fn())

    run_canary()                       # untimed canary warmup
    for fn in basket_fns.values():     # untimed basket warmup
        fn()
    canary: dict[str, float] = {}

    def jvm_gc() -> None:
        # decouple entries from each other's garbage: a full GC between
        # timed entries means entry N's humps aren't collected inside
        # entry N+1's timed section (one suspected source of the
        # uniform r6->r7 drift)
        spark.sparkContext._jvm.System.gc()

    # Two full timed passes with a per-entry min. The passes are
    # minutes apart, so a transient host/GC degradation window (which
    # we observed stalling whatever entry happens to be running for
    # 1-3 minutes) cannot poison the same entry's sample twice.
    # Pass 0 doubles as the JMH-style warmup (JVM JIT + codegen +
    # builder caches); the warmup execution itself is untimed.
    timings: dict[str, float] = {}
    for pass_i in range(2):
        canary[f"pass{pass_i}_first"] = run_canary()
        run_basket()
        for name, make in benches.items():
            if pass_i == 0:
                make().write.format("noop").mode("overwrite").save()
            jvm_gc()
            t0 = time.time()
            make().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            # per-pass sample to stderr: lets drift adjudication tell a
            # one-pass host stall (min is clean) from a real regression
            # (every pass slow) without touching the stdout contract
            print(f"[pass{pass_i}] {name} {dt:.3f}", file=sys.stderr)
            if name not in timings or dt < timings[name]:
                timings[name] = round(dt, 3)
        canary[f"pass{pass_i}_last"] = run_canary()
        run_basket()
    # third pass for the sub-1.5s entries only: their min-of-2 is the
    # most noise-dominated (a single multi-second host stall can poison
    # both samples of a 0.3s query), and re-running them costs seconds
    for name, make in benches.items():
        if timings[name] < 1.5:
            jvm_gc()
            t0 = time.time()
            make().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            print(f"[pass2] {name} {dt:.3f}", file=sys.stderr)
            if dt < timings[name]:
                timings[name] = round(dt, 3)
    canary["final"] = run_canary()
    run_basket()

    total = round(sum(timings.values()), 3)
    print(json.dumps({"metric": "headline_queries_total", "value": total,
                      "unit": "sec", "queries": timings, "sf": sf,
                      "canary": canary, "canary_basket": canary_basket}))


if __name__ == "__main__":
    main()
