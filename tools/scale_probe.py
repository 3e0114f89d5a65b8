"""Empirical scale probe — runs the scale-path operators on synthetic
data 10-100× larger than sf0.1 to validate the claims in README
("would this plan survive a 100× scale-up?"). Not part of the gate
(gate inputs are only driver testdata); writes only under the temp
dir (``$TMPDIR``, default /tmp).

Usage: python tools/scale_probe.py [n_rows] [dim] [n_queries] [sections]

``sections`` is an optional comma-separated filter (knn, ivf, vamana, scann,
rabitq, ivf_sq, ivf_pq, lsh, directional, spectral, cagra) — e.g.
``... 1000000 64 1000 lsh`` runs only the LSH-vs-exact crossover at 1M
rows; ``directional`` probes the r12 max-close paths (inner_product
IVF-SQ + all_neighbors). The ivf section also builds on fixed centres,
extends that index twice and searches it. The timed calls of the ivf,
scann, rabitq, ivf_sq and ivf_pq sections also print
``<key>_jobs_stages``: the Spark jobs and stages each call ran.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    nq = int(sys.argv[3]) if len(sys.argv) > 3 else 1000
    sections = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None

    def want(name: str) -> bool:
        return sections is None or name in sections

    from pyspark.sql import functions as F

    from cuvs_spark import get_spark
    from cuvs_spark.operators import knn
    from cuvs_spark.operators.ivf_flat import (ivf_flat_build,
                                               ivf_flat_extend,
                                               ivf_flat_search)

    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    path = os.path.join(tempfile.gettempdir(),
                        f"scale_probe_{n}x{dim}.parquet")
    if not os.path.exists(path):
        rng = np.random.default_rng(7)
        # clustered data (256 centers) so IVF pruning has structure
        centers = rng.normal(0, 1, (256, dim))
        rows = []
        import pandas as pd
        batch = 50_000
        dfs = []
        for s in range(0, n, batch):
            m = min(batch, n - s)
            lab = rng.integers(0, 256, m)
            X = (centers[lab] + rng.normal(0, 0.3, (m, dim))).astype(np.float32)
            dfs.append(pd.DataFrame({
                "id": np.arange(s, s + m, dtype=np.int64),
                "vec": list(X)}))
        pdf = pd.concat(dfs)
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)

    d = spark.read.parquet(path).repartition(32).cache()
    d.count()
    q = (d.filter(F.col("id") < nq)
         .select(F.col("id").alias("qid"), F.col("vec").alias("qv")))

    out = {}
    sc = spark.sparkContext

    def timed(key, fn):
        """Run ``fn``; record its wall time and the jobs/stages it ran."""
        group = f"scale_probe-{key}"
        sc.setJobGroup(group, key)
        t0 = time.time()
        try:
            res = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out[f"{key}_sec"] = round(time.time() - t0, 2)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        out[f"{key}_jobs_stages"] = [
            len(jobs), sum(len(st.getJobInfo(j).stageIds) for j in jobs)]
        return res

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    if want("knn"):
        t0 = time.time()
        knn(d, q, 10, "euclidean", qvec_col="qv", method="blas") \
            .write.format("noop").mode("overwrite").save()
        out["knn_blas_sec"] = round(time.time() - t0, 2)
        out["knn_blas_pairs_per_sec"] = round(n * nq / out["knn_blas_sec"] / 1e6, 1)

    if want("ivf") or want("scann") or want("rabitq") or want("ivf_sq") \
            or want("ivf_pq"):
        # shared fixed centroids for the coarse-quantized families
        cents = np.array(
            [r["vec"] for r in d.filter(F.col("id") < 128).collect()],
            dtype=float)

    def built(index, table):
        # materialize the index table inside the timed build call
        getattr(index, table).cache().count()
        return index

    def counted(index):
        index.lists.count()
        return index

    t0 = time.time()
    if want("ivf"):
        idx = ivf_flat_build(d, n_lists=128, kmeans_n_iters=4,
                             trainset_fraction=0.1)
        idx.lists.cache().count()
        out["ivf_build_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        ivf_flat_search(idx, q, 10, n_probes=8, qvec_col="qv", method="blas") \
            .write.format("noop").mode("overwrite").save()
        out["ivf_search_sec"] = round(time.time() - t0, 2)
        # warm repeat: the same one-pass search on a warm session
        t0 = time.time()
        ivf_flat_search(idx, q, 10, n_probes=8, qvec_col="qv", method="blas") \
            .write.format("noop").mode("overwrite").save()
        out["ivf_search_warm_sec"] = round(time.time() - t0, 2)
        scanned = 8 / 128
        out["ivf_vs_blas_speedup_expected"] = round(1 / scanned, 1)
        idx.lists.unpersist()
        # fixed-centroid build on all but two batches of rows, two
        # extends with those batches, then searches on the extended index
        m = n // 20
        fidx = timed("ivf_build_fixed", lambda: built(ivf_flat_build(
            d.filter(F.col("id") >= 2 * m), 128, centroids=cents), "lists"))
        for r in (0, 1):
            batch = d.filter((F.col("id") >= r * m) & (F.col("id") < (r + 1) * m))
            fidx = timed(f"ivf_extend_{r + 1}", lambda: counted(
                ivf_flat_extend(fidx, batch)))
        for key in ("ivf_extended_search", "ivf_extended_search_warm"):
            timed(key, lambda: noop(ivf_flat_search(
                fidx, q, 10, n_probes=8, qvec_col="qv", method="blas")))

    if want("vamana"):
        # Vamana: candidates via partitioned kNN (blas) + local-GEMM prune
        from cuvs_spark.operators.graph import all_neighbors_build
        from cuvs_spark.operators.vamana import robust_prune
        t0 = time.time()
        ncl = max(128, n // 1500)   # per-cluster quadratic work stays bounded
        base = all_neighbors_build(d, 32, n_clusters=ncl, overlap_factor=2,
                                   kmeans_n_iters=4, method="blas")
        g = robust_prune(base.drop("rank"), d, 16, 1.2, visited_size=32,
                         method="local")
        g.write.format("noop").mode("overwrite").save()
        out["vamana_build_sec"] = round(time.time() - t0, 2)

    if want("scann"):
        # ScaNN: SOAR build (spilled assignment) + reorder search
        from cuvs_spark.operators.scann import scann_build, scann_search
        sidx = timed("scann_build", lambda: built(scann_build(
            d, 128, centroids=cents, method="blas"), "assignments"))
        for key in ("scann_search", "scann_search_warm"):
            timed(key, lambda: noop(scann_search(
                sidx, q, 10, 8, qvec_col="qv", score_method="blas")))

    if want("rabitq"):
        # IVF-RaBitQ: 3-bit codes build + estimator search
        from cuvs_spark.operators.ivf_rabitq import (ivf_rabitq_build,
                                                     ivf_rabitq_search)
        ridx = timed("rabitq_build", lambda: built(ivf_rabitq_build(
            d, 128, bits_per_dim=3, centroids=cents),
            "codes"))
        for key in ("rabitq_search", "rabitq_search_warm"):
            timed(key, lambda: noop(ivf_rabitq_search(
                ridx, q, 10, 8, qvec_col="qv", score_method="blas")))

    if want("ivf_sq"):
        # IVF-SQ: int8 residual build + one-pass decode-and-score search
        from cuvs_spark.operators.ivf_pq import ivf_sq_build, ivf_sq_search

        sqidx = timed("ivf_sq_build", lambda: built(ivf_sq_build(
            d, 128, centroids=cents, lo=-4.0, hi=4.0), "rcodes"))
        for key in ("ivf_sq_search", "ivf_sq_search_warm"):
            timed(key, lambda: noop(ivf_sq_search(
                sqidx, q, 10, 8, qvec_col="qv", method="blas")))

    if want("ivf_pq"):
        # IVF-PQ: blas encode builds (raw, and residual in the
        # benchmark's shape) + one-pass LUT search
        from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search

        def build(encode, pq_dim, pq_bits):
            return built(ivf_pq_build(d, 128, pq_dim, pq_bits,
                                      centroids=cents, encode=encode,
                                      method="blas"), "codes")

        def search():
            noop(ivf_pq_search(pidx, q, 10, 8, qvec_col="qv", method="blas"))

        pidx = timed("ivf_pq_build", lambda: build("raw", 8, 4))
        rix = timed("ivf_pq_build_residual", lambda: build("residual", 16, 5))
        rix.codes.unpersist()
        timed("ivf_pq_search", search)
        # warm repeat: the codebook array is already on the index
        timed("ivf_pq_search_warm", search)

    if want("lsh"):
        # Random-hyperplane LSH kNN: the regime where bucketing pays —
        # candidate sets are ~n_tables·(n/2^planes) per query vs the full
        # n per query of the brute scan; recall recorded alongside time
        from cuvs_spark.operators.brute_force import knn as _bf_knn
        from cuvs_spark.operators.lsh import lsh_knn
        from cuvs_spark.stats.metrics import recall_score
        # 2^16 buckets over 200k clustered rows: measured 3.4s / recall
        # 0.965 vs 16.1s brute BLAS at 1k queries — clustered data needs
        # FINER buckets than the uniform n/2^planes rule suggests (hot
        # hyperplane patterns), compensated by more tables + probes
        t0 = time.time()
        lsh_got = lsh_knn(d, q, 10, n_planes=16, n_tables=10, n_probe_bits=3,
                          dim=dim, metric="sqeuclidean", qvec_col="qv")
        lsh_got = lsh_got.localCheckpoint()
        lsh_got.count()
        out["lsh_knn_search_sec"] = round(time.time() - t0, 2)
        exact_q = _bf_knn(d, q, 10, "sqeuclidean", qvec_col="qv",
                          method="blas")
        out["lsh_knn_recall"] = round(float(
            recall_score(lsh_got, exact_q).head()["recall"]), 3)

    if want("directional"):
        # r12: the flipped max-close paths at probe scale — the
        # directional parameterization must not change the plan shapes
        # (same one-pass scan / same bounded merge), so inner_product
        # runs should track their sqeuclidean siblings' times.
        from cuvs_spark.operators.graph import all_neighbors_build
        from cuvs_spark.operators.ivf_pq import ivf_sq_build, ivf_sq_search
        import numpy as np_
        cents_d = np_.array(
            [r["vec"] for r in d.filter(F.col("id") < 128).collect()],
            dtype=float)
        t0 = time.time()
        sq_idx = ivf_sq_build(d, 128, centroids=cents_d, lo=-4.0, hi=4.0,
                              metric="inner_product")
        sq_idx.rcodes.cache().count()
        out["ivf_sq_ip_build_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        ivf_sq_search(sq_idx, q, 10, n_probes=8, qvec_col="qv",
                      method="blas") \
            .write.format("noop").mode("overwrite").save()
        out["ivf_sq_ip_search_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        nan = min(n, 100_000)
        all_neighbors_build(d.filter(F.col("id") < nan), 16,
                            n_clusters=max(64, nan // 1500),
                            overlap_factor=2, kmeans_n_iters=4,
                            metric="inner_product", method="blas") \
            .write.format("noop").mode("overwrite").save()
        out["all_neighbors_ip_100k_sec"] = round(time.time() - t0, 2)
        # r13: the max-close tiered COMPOSITION at probe scale (gate
        # tiered_search_ip proves correctness at sf0.01; this bounds
        # the serving shape at 200k: IVF tier + 10%-of-corpus delta,
        # cross-tier knn_merge_parts in the max-close direction — one
        # blas scan + one broadcast-query delta scan + the bounded
        # n_parts×q×k merge, same plan family as the min-close twin)
        from functools import partial

        from cuvs_spark.operators.tiered import (TieredIndex,
                                                 tiered_extend,
                                                 tiered_search)
        n_old = int(n * 0.9)
        t0 = time.time()
        ip_ann = ivf_flat_build(d.filter(F.col("id") < n_old), 128,
                                metric="inner_product", centroids=cents_d)
        ip_ann.lists.cache().count()
        idx = TieredIndex(ann=ip_ann,
                          delta=spark.createDataFrame(
                              [], "id long, vec array<float>"),
                          min_ann_rows=10 ** 12, metric="inner_product",
                          search_fn=partial(ivf_flat_search,
                                            method="blas"))
        idx = tiered_extend(idx, d.filter(F.col("id") >= n_old))
        out["tiered_ip_build_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        tiered_search(idx, q, 10, 8, qvec_col="qv") \
            .write.format("noop").mode("overwrite").save()
        out["tiered_ip_search_sec"] = round(time.time() - t0, 2)
        # r14: the max-close COMPOSITE fan-out at probe scale (gate
        # composite_search_ip proves correctness at sf0.01; this
        # bounds the multi-sub-index serving shape at 200k: two
        # half-corpus IVF sub-indexes searched independently — two
        # one-pass blas scans over half the rows each — plus the bounded
        # n_parts×q×k knn_merge_parts merge; total work ≈ one
        # full-corpus IVF search split across two indexes, so it
        # should track the single-index ivf_sq/tiered entries with
        # no new shuffle class)
        from cuvs_spark.operators.tiered import composite_search
        half = n // 2
        t0 = time.time()
        ca = ivf_flat_build(d.filter(F.col("id") < half), 128,
                            metric="inner_product", centroids=cents_d)
        cb = ivf_flat_build(d.filter(F.col("id") >= half), 128,
                            metric="dot", centroids=cents_d)
        ca.lists.cache().count()
        cb.lists.cache().count()
        out["composite_ip_build_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        composite_search([ca, cb], q, 10, 8, qvec_col="qv",
                         method="blas") \
            .write.format("noop").mode("overwrite").save()
        out["composite_ip_search_sec"] = round(time.time() - t0, 2)

    if want("spectral"):
        # Spectral (sparse driver eigensolve): 100k rows through the CSR +
        # Lanczos path — completes in driver memory (O(n·k) edges, no n×n)
        from cuvs_spark.cluster.spectral import spectral_fit_predict
        nsp = min(n, 100_000)
        t0 = time.time()
        spectral_fit_predict(d.filter(F.col("id") < nsp), 8, k=8, max_iter=5,
                             n_init=1, graph_method="approx") \
            .write.format("noop").mode("overwrite").save()
        out["spectral_100k_sec"] = round(time.time() - t0, 2)

    if want("cagra"):
        # Iterative CAGRA build (self-search refinement): probe at 50k —
        # the expensive stage is a full-point-set beam search per round, so
        # the probe bounds one round's cost at scale
        from cuvs_spark.operators.graph import cagra_build_iterative
        nit = min(n, 50_000)
        t0 = time.time()
        cagra_build_iterative(d.filter(F.col("id") < nit), 16, n_iters=1,
                              search_width=4, search_iterations=4) \
            .write.format("noop").mode("overwrite").save()
        out["cagra_iterative_50k_sec"] = round(time.time() - t0, 2)

    print(json.dumps({"n_rows": n, "dim": dim, "n_queries": nq, **out}))


if __name__ == "__main__":
    main()
