"""The three closed-loop, single-client workloads.

Each workload has a set-up phase and a measured loop of requests. A
request waits for its previous one (closed loop, one client) and the
loop runs until ``seconds`` have passed and at least the workload's
minimum number of requests is done. Only calls into the engine's
public functions are timed (through :class:`tracing.Tracer`); input
generation, exact ground truth and checks run between them, untimed.
"""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import replace

import numpy as np
from pyspark.sql import functions as F

import checks
from datagen import CorpusSource, VectorSource, vectors_frame

FLAT_BUILD = "operators.ivf_flat.ivf_flat_build"
FLAT_SEARCH = "operators.ivf_flat.ivf_flat_search"
FLAT_EXTEND = "operators.ivf_flat.ivf_flat_extend"
PQ_BUILD = "operators.ivf_pq.ivf_pq_build"
PQ_SEARCH = "operators.ivf_pq.ivf_pq_search"
REFINE = "operators.pairwise.refine"
KMEANS = "cluster.kmeans.kmeans_fit"
ALL_NEIGHBORS = "operators.graph.all_neighbors_build"
CAGRA_OPT = "operators.graph.cagra_optimize"
CURATE = "pipeline.curate.curate_corpus"

# sizes per scale; "tiny" is the smoke test's
SIZES = {
    "full": {
        "ann_search": dict(n_rows=10000, dim=64, n_centers=256, sigma=0.3,
                           n_lists=32, kmeans_iters=3, train_frac=0.25,
                           pq_dim=16, pq_bits=5, batch=500, warm_batch=500,
                           k=10, k0=40, n_probes=8, min_requests=3,
                           max_requests=6, flat_floor=0.9, pq_floor=0.7),
        "build_extend": dict(n_rows=4000, dim=64, n_centers=64, sigma=0.3,
                             n_lists=16, kmeans_iters=3, pq_dim=16,
                             pq_bits=5, graph_k=16, graph_degree=8,
                             graph_sample=100, graph_floor=0.6,
                             extend_rounds=2, extend_rows=500, queries=100,
                             k=10, n_probes=8, flat_floor=0.9,
                             min_requests=1, max_requests=4),
        "corpus_curate": dict(n_docs=2000, warm_docs=2000, min_requests=3,
                              max_requests=8),
    },
    "tiny": {
        "ann_search": dict(n_rows=2000, dim=16, n_centers=16, sigma=0.3,
                           n_lists=8, kmeans_iters=2, train_frac=0.5,
                           pq_dim=4, pq_bits=4, batch=40, warm_batch=10,
                           k=10, k0=40, n_probes=4, min_requests=1,
                           max_requests=2, flat_floor=0.8, pq_floor=0.5),
        "build_extend": dict(n_rows=600, dim=16, n_centers=8, sigma=0.3,
                             n_lists=4, kmeans_iters=2, pq_dim=4,
                             pq_bits=4, graph_k=8, graph_degree=4,
                             graph_sample=20, graph_floor=0.5,
                             extend_rounds=1, extend_rows=50, queries=20,
                             k=10, n_probes=4, flat_floor=0.8,
                             min_requests=1, max_requests=1),
        "corpus_curate": dict(n_docs=300, warm_docs=100, min_requests=1,
                              max_requests=1),
    },
}


def persisted(df):
    """Cache and materialize ``df`` (how an index is kept hot between
    batches of searches)."""
    df = df.cache()
    df.count()
    return df


class Run:
    """State of one benchmark run: session, tracer, seeded RNG, the
    op counts and the measured requests."""

    def __init__(self, spark, tracer, seed: int, seconds: float,
                 sizes: dict, corrupt: bool):
        self.spark = spark
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.seconds = seconds
        self.sizes = sizes
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.request_s: list[float] = []   # engine time per request
        self.items = 0                     # work items over all requests
        self.cached_bytes = 0
        self.detail: dict = {}             # workload-specific figures
        self.layer_extra: dict = {}        # workload-specific layer ratios
        self.samples: dict[str, list] = {}

    def sample(self, name: str, value) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems[:3])

    def read_cached_bytes(self) -> None:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.cached_bytes = max(self.cached_bytes, sum(
            i.memSize() + i.diskSize() for i in infos))

    def loop(self, request, min_requests: int, max_requests: int) -> float:
        """Closed loop: ``request(i) -> (engine_s, items)``. A request
        that raises counts as one failed op and the loop goes on.
        Returns the loop's wall time."""
        t0 = time.perf_counter()
        i = 0
        while i < max_requests and (i < min_requests or
                                    time.perf_counter() - t0 < self.seconds):
            with self.tracer.request(i):
                try:
                    engine_s, items = request(i)
                    self.request_s.append(engine_s)
                    self.items += items
                except Exception:   # keep measuring; report the failure
                    traceback.print_exc(file=sys.stderr)
                    self.check(f"request {i}", ["raised"])
            self.read_cached_bytes()
            i += 1
        return time.perf_counter() - t0


def _found(run: Run, rows, key="qid", val="nid") -> dict:
    found = checks.group_neighbours(rows, key, val)
    return checks.corrupt_neighbours(found) if run.corrupt else found


def _candidates_per_query(centroids, list_sizes, Q, n_probes, k) -> float:
    """Rows scanned per result returned: the sizes of each query's
    ``n_probes`` nearest lists, summed, over ``k``."""
    C = np.asarray(centroids, np.float64)
    Q = Q.astype(np.float64)
    D = (C * C).sum(1)[None, :] - 2.0 * (Q @ C.T)
    probes = np.argpartition(D, n_probes - 1, axis=1)[:, :n_probes]
    return float(list_sizes[probes].sum(1).mean() / k)


def _list_sizes(index_like) -> np.ndarray:
    from cuvs_spark.operators.ivf_flat import ivf_list_sizes
    rows = ivf_list_sizes(index_like).collect()
    sizes = np.zeros(len(rows), np.int64)
    for r in rows:
        sizes[r["list_id"]] = r["list_size"]
    return sizes


def ann_search(run: Run) -> dict:
    """Read path: two prebuilt indexes over one seeded table, searched
    by fresh query batches; each batch is answered by IVF-Flat and by
    IVF-PQ candidates re-ranked with ``refine``."""
    from cuvs_spark.cluster.kmeans import kmeans_fit
    from cuvs_spark.operators.ivf_flat import (IVFFlatIndex, ivf_flat_build,
                                               ivf_flat_search)
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
    from cuvs_spark.operators.pairwise import refine

    s, tr = run.sizes, run.tracer
    src = VectorSource(run.rng, s["n_centers"], s["dim"], s["sigma"])
    ids = np.arange(s["n_rows"], dtype=np.int64)
    X = src.draw(s["n_rows"])
    batches = [src.draw(s["batch"]) for _ in range(s["max_requests"])]
    warm = src.draw(s["warm_batch"])

    t0 = time.perf_counter()
    ds = persisted(run.spark.createDataFrame(vectors_frame(ids, X)))
    model, _, _ = tr.call(KMEANS, lambda: kmeans_fit(
        ds.sample(fraction=s["train_frac"], seed=run.seed), s["n_lists"],
        max_iter=s["kmeans_iters"], seed=run.seed))
    _, flat, _ = tr.call(FLAT_BUILD, lambda: ivf_flat_build(
        ds, s["n_lists"], centroids=model.centroids),
        force=lambda i: replace(i, lists=persisted(i.lists)))
    _, pq, _ = tr.call(PQ_BUILD, lambda: ivf_pq_build(
        ds, s["n_lists"], s["pq_dim"], s["pq_bits"],
        kmeans_n_iters=s["kmeans_iters"], centroids=flat.centroids,
        encode="residual", method="blas", seed=run.seed),
        force=lambda i: replace(i, codes=persisted(i.codes)))
    k, k0, n_probes = s["k"], s["k0"], s["n_probes"]

    def search(qids, Q):
        qdf = run.spark.createDataFrame(vectors_frame(qids, Q, "qid"))
        _, flat_rows, t_flat = tr.call(FLAT_SEARCH, lambda: ivf_flat_search(
            flat, qdf, k, n_probes, method="blas"),
            force=lambda df: df.collect())
        cand, _, t_pq = tr.call(PQ_SEARCH, lambda: ivf_pq_search(
            pq, qdf, k0, n_probes, method="blas").cache(),
            force=lambda df: df.count())
        _, pq_rows, t_ref = tr.call(REFINE, lambda: refine(
            ds, qdf, cand.select("qid", F.col("nid").alias("id")), k),
            force=lambda df: df.collect())
        cand.unpersist()
        return flat_rows, pq_rows, t_flat, t_pq + t_ref

    # one batch through both paths so the loop starts warm
    search(np.arange(len(warm), dtype=np.int64), warm)
    setup_s = time.perf_counter() - t0

    if tr.enabled:
        flat_sizes = _list_sizes(flat)
        # the codes table carries list_id like an inverted file does
        pq_sizes = _list_sizes(IVFFlatIndex(centroids=pq.centroids,
                                            lists=pq.codes))

    def request(i):
        Q = batches[i]
        qids = np.arange(len(Q), dtype=np.int64) + (i + 1) * 10**6
        flat_rows, pq_rows, t_flat, t_pq = search(qids, Q)
        truth = checks.exact_knn(ids, X, Q, k)
        r1, p1 = checks.check_knn(_found(run, flat_rows), qids, truth, k,
                                  s["flat_floor"])
        run.check("ivf_flat_search", p1)
        r2, p2 = checks.check_knn(_found(run, pq_rows), qids, truth, k,
                                  s["pq_floor"])
        run.check("ivf_pq_search+refine", p2)
        run.sample("flat_recall", r1)
        run.sample("pq_recall", r2)
        run.sample("quality", (r1 + r2) / 2)
        run.sample("flat_batch_s", t_flat)
        run.sample("pq_refine_batch_s", t_pq)
        if tr.enabled:
            run.sample("flat_cpq", _candidates_per_query(
                flat.centroids, flat_sizes, Q, n_probes, k))
            run.sample("pq_cpq", _candidates_per_query(
                pq.centroids, pq_sizes, Q, n_probes, k0))
        return t_flat + t_pq, 2 * len(Q)

    loop_s = run.loop(request, s["min_requests"], s["max_requests"])
    if not run.request_s:
        return {"setup_s": setup_s, "loop_s": loop_s}
    sm = run.samples
    run.detail.update({
        "search_qps": (run.items / sum(run.request_s), "1/s"),
        "search_batch_p50_s": (float(np.median(run.request_s)), "s"),
        "ivf_flat_recall_at_10": (float(np.mean(sm["flat_recall"])), "frac"),
        "ivf_pq_refine_recall_at_10": (float(np.mean(sm["pq_recall"])),
                                       "frac"),
        "ivf_flat_batch_p50_s": (float(np.median(sm["flat_batch_s"])), "s"),
        "ivf_pq_refine_batch_p50_s": (float(np.median(
            sm["pq_refine_batch_s"])), "s"),
    })
    run.detail.update(tail_of(run.request_s))
    if tr.enabled:
        run.layer_extra.update({
            "operators.ivf_flat.candidates_per_query": (
                float(np.mean(sm["flat_cpq"])), "rows"),
            "operators.ivf_pq.candidates_per_query": (
                float(np.mean(sm["pq_cpq"])), "rows"),
        })
    return {"setup_s": setup_s, "loop_s": loop_s}


def build_extend(run: Run) -> dict:
    """Write path: per request a fresh shard goes through k-means, an
    IVF-Flat build on those centres, an IVF-PQ build on the same
    centres and a kNN graph plus CAGRA pruning; then rounds of
    ``ivf_flat_extend`` with driver-side batches, each followed by a
    search that must find the rows just added."""
    from cuvs_spark.cluster.kmeans import kmeans_fit
    from cuvs_spark.operators.graph import all_neighbors_build, cagra_optimize
    from cuvs_spark.operators.ivf_flat import (ivf_flat_build,
                                               ivf_flat_extend,
                                               ivf_flat_search)
    from cuvs_spark.operators.ivf_pq import ivf_pq_build

    s, tr = run.sizes, run.tracer
    src = VectorSource(run.rng, s["n_centers"], s["dim"], s["sigma"])
    k, n_probes = s["k"], s["n_probes"]
    run.detail["extend_input_form"] = (
        "spark.createDataFrame(pandas) of each generated batch", "")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def counted(index):
        index.lists.count()
        return index

    def request(i):
        base = (i + 1) * 10**7
        ids = base + np.arange(s["n_rows"], dtype=np.int64)
        X = src.draw(s["n_rows"])
        shard = persisted(run.spark.createDataFrame(vectors_frame(ids, X)))
        model, _, t_km = tr.call(KMEANS, lambda: kmeans_fit(
            shard, s["n_lists"], max_iter=s["kmeans_iters"], seed=run.seed))
        _, built, t_fb = tr.call(FLAT_BUILD, lambda: ivf_flat_build(
            shard, s["n_lists"], centroids=model.centroids),
            force=lambda ix: replace(ix, lists=persisted(ix.lists)))
        _, pq, t_pb = tr.call(PQ_BUILD, lambda: ivf_pq_build(
            shard, s["n_lists"], s["pq_dim"], s["pq_bits"],
            kmeans_n_iters=s["kmeans_iters"], centroids=model.centroids,
            encode="residual", method="blas", seed=run.seed),
            force=lambda ix: noop(ix.codes))
        _, graph, t_an = tr.call(ALL_NEIGHBORS, lambda: all_neighbors_build(
            shard, s["graph_k"], n_clusters=s["n_lists"],
            centroids=model.centroids, method="blas"), force=persisted)
        _, pruned, t_co = tr.call(CAGRA_OPT, lambda: cagra_optimize(
            graph, s["graph_degree"]), force=lambda df: df.collect())
        build_s = t_km + t_fb + t_pb + t_an + t_co
        run.sample("build_rows_per_s", s["n_rows"] / build_s)

        sample = run.rng.choice(len(ids), s["graph_sample"], replace=False)
        # exact neighbours of the sampled rows, themselves excluded
        near = checks.exact_knn(ids, X, X[sample], s["graph_degree"] + 1)
        gtruth = np.array([[x for x in row if x != ids[j]][:s["graph_degree"]]
                           for row, j in zip(near, sample)])
        edges = _found(run, pruned, "src", "dst")
        g_recall, gp = checks.check_graph(edges, ids[sample], gtruth,
                                          s["graph_degree"], s["graph_floor"])
        run.check("all_neighbors_build+cagra_optimize", gp)
        run.sample("graph_recall", g_recall)
        graph.unpersist()

        flat, all_ids, all_X = built, ids, X
        ext_s = search_s = 0.0
        for r in range(s["extend_rounds"]):
            new_ids = base + (r + 1) * 10**6 + np.arange(
                s["extend_rows"], dtype=np.int64)
            new_X = src.draw(s["extend_rows"])
            batch = run.spark.createDataFrame(vectors_frame(new_ids, new_X))
            _, flat, t_ex = tr.call(FLAT_EXTEND, lambda: ivf_flat_extend(
                flat, batch), force=counted)
            ext_s += t_ex
            all_ids = np.concatenate([all_ids, new_ids])
            all_X = np.vstack([all_X, new_X])
            half = s["queries"] // 2
            Q = np.vstack([new_X[:half], src.draw(s["queries"] - half)])
            qids = np.concatenate([new_ids[:half],
                                   base + 9 * 10**6 + np.arange(
                                       s["queries"] - half, dtype=np.int64)])
            qdf = run.spark.createDataFrame(vectors_frame(qids, Q, "qid"))
            _, rows, t_s = tr.call(FLAT_SEARCH, lambda: ivf_flat_search(
                flat, qdf, k, n_probes, method="blas"),
                force=lambda df: df.collect())
            search_s += t_s
            found = _found(run, rows)
            truth = checks.exact_knn(all_ids, all_X, Q, k)
            recall, p = checks.check_knn(found, qids, truth, k,
                                         s["flat_floor"])
            p += [f"new row {q} not found by its own vector"
                  for q in qids[:half] if q not in found.get(int(q), [])][:1]
            run.check("ivf_flat_extend+search", p)
            run.sample("quality", recall)
        built.lists.unpersist()
        shard.unpersist()
        added = s["extend_rounds"] * s["extend_rows"]
        run.sample("extend_rows_per_s", added / ext_s)
        run.sample("search_qps", s["extend_rounds"] * s["queries"] / search_s)
        return build_s + ext_s + search_s, s["n_rows"] + added

    loop_s = run.loop(request, s["min_requests"], s["max_requests"])
    if not run.request_s:
        return {"setup_s": 0.0, "loop_s": loop_s}
    sm = run.samples
    run.detail.update({
        "build_rows_per_s": (float(np.median(sm["build_rows_per_s"])),
                             "rows/s"),
        "extend_rows_per_s": (float(np.median(sm["extend_rows_per_s"])),
                              "rows/s"),
        "search_qps": (float(np.median(sm["search_qps"])), "1/s"),
        "graph_recall": (float(np.mean(sm["graph_recall"])), "frac"),
    })
    return {"setup_s": 0.0, "loop_s": loop_s}


def corpus_curate(run: Run) -> dict:
    """Text path: per request a fresh seeded shard with injected exact
    copies and one-token edits goes through ``curate_corpus``; the
    staging is checked against the injection manifest."""
    from cuvs_spark.pipeline.curate import curate_corpus

    s, tr = run.sizes, run.tracer
    corpus = CorpusSource(run.rng)

    def curate(pdf):
        docs = run.spark.createDataFrame(pdf)
        _, rows, t = tr.call(CURATE, lambda: curate_corpus(
            docs, near_dup_jaccard=0.8), force=lambda df: df.collect())
        return rows, t

    # one shard first, so compilation and worker start-up land in
    # set-up rather than in the first measured request
    warm, _ = corpus.shard(s["warm_docs"], 1)
    t0 = time.perf_counter()
    curate(warm)
    setup_s = time.perf_counter() - t0

    def request(i):
        pdf, manifest = corpus.shard(s["n_docs"], (i + 1) * 10**7)
        rows, t = curate(pdf)
        stages = {int(r["doc_id"]): r["stage"] for r in rows}
        if run.corrupt:
            stages = {d: ("kept" if st == "exact_dup" else st)
                      for d, st in stages.items()}
        recall, p = checks.check_curation(stages, manifest,
                                          pdf["doc_id"].to_numpy())
        run.check("curate_corpus", p)
        run.sample("quality", recall)
        return t, len(pdf)

    loop_s = run.loop(request, s["min_requests"], s["max_requests"])
    if not run.request_s:
        return {"setup_s": setup_s, "loop_s": loop_s}
    run.detail.update({
        "curate_docs_per_s": (run.items / sum(run.request_s), "docs/s"),
        "dedup_recall": (float(np.mean(run.samples["quality"])), "frac"),
    })
    return {"setup_s": setup_s, "loop_s": loop_s}


def tail_of(latencies: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, with
    the sample count; no tail when there are ten samples or fewer."""
    n = len(latencies)
    out = {"search_batch_samples": (n, "count")}
    if n > 10:
        pct = 100.0 * (n - 10) / n
        out["search_batch_tail_pct"] = (pct, "%")
        out["search_batch_tail_s"] = (float(np.percentile(latencies, pct)),
                                      "s")
    return out


WORKLOADS = {"ann_search": ann_search, "build_extend": build_extend,
             "corpus_curate": corpus_curate}
