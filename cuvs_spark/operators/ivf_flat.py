"""IVF-Flat: inverted-file index via coarse k-means partitioning.

Reference: ``python/cuvs/cuvs/neighbors/ivf_flat/ivf_flat.pyx``
(build :41-115 — ``n_lists=1024``, ``kmeans_n_iters=20``,
``kmeans_trainset_fraction=0.5``, ``add_data_on_build``,
``adaptive_centers``; search :265-295 — ``n_probes``; extend :467);
impl ``cpp/src/neighbors/ivf_flat/ivf_flat_build.cuh`` (kmeans predict
:222), ``ivf_flat_search.cuh:41``.

Spark design (SURVEY.md §2.5): the index IS a partitioning.

* **build** — balanced k-means over a seeded trainset fraction gives
  ``n_lists`` centroids; the assignment table ``(id, list_id, vec)`` is
  the inverted file. Persisted ``partitionBy(list_id)`` so searches
  prune at the *file listing* level.
* **search** — the reference's ``select_clusters`` + per-list scan.
  ``method="blas"`` is one pass: the query batch (small by contract)
  comes to the driver, a NumPy kernel picks each query's ``n_probes``
  lists (``kmeans.coarse_probes`` — the same rows and ties as the SQL
  fold), ``{list_id: (qids, Q)}`` is broadcast, unprobed lists are
  filtered out before the scan, and each partition of the inverted
  file GEMM-scores its own lists and keeps a local top-k; the only
  shuffle is the ``n_parts × q × k`` merge. That scan,
  :func:`_probe_scan`, is the one ``blas`` kernel of every IVF variant
  (IVF-PQ, IVF-SQ, RaBitQ, ScaNN reorder); each brings only its
  per-list ``score``. Among rows tied at the k-th score, every local
  top-k keeps the lowest ids (:func:`_local_topk`), as the merge does.
  ``method="expr"`` (oracle-exact) runs the coarse stage as a map-only
  SQL fold and broadcast-joins the probe set against the inverted
  file, so the dataset side never shuffles there either. At 1000
  executors the scan reads ``n_probes / n_lists`` of the data — same
  asymptotic win as the GPU.
* **labelling** — a build or extend on fixed centres labels its rows in
  one map pass (:func:`_label_rows`, the literal fold's labels); the
  IVF-SQ, IVF-BQ, RaBitQ and IVF-PQ ``expr`` encodes share it.
* **extend** — assign each new row to its nearest existing center and
  append it (``ivf_flat.pyx:467``). Like the reference's, the extended
  index owns its storage: the old table plus the new rows, materialized
  once in the old table's partition count (:func:`_extended_table`),
  so a search after an extend costs what it costs on a fresh build.
  Spark frees that table once no index object references it.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cuvs_spark.cluster.kmeans import (assign, centroid_literal_sql,
                                       coarse_sorted_sql, kmeans_fit)
from cuvs_spark.functions.distance import distance_sql_spark, is_min_close
from cuvs_spark.operators.select_k import select_k


@dataclass
class IVFFlatIndex:
    centroids: np.ndarray            # (n_lists, dim) float64
    lists: DataFrame                 # (id, list_id, vec) — the inverted file
    metric: str = "sqeuclidean"

    @property
    def n_lists(self) -> int:
        return len(self.centroids)


def ivf_flat_build(dataset: DataFrame, n_lists: int = 64, *,
                   metric: str = "sqeuclidean", kmeans_n_iters: int = 20,
                   trainset_fraction: float = 0.5, seed: int = 42,
                   id_col: str = "id", vec_col: str = "vec",
                   centroids: np.ndarray | None = None,
                   add_data_on_build: bool = True) -> IVFFlatIndex:
    """Train the coarse quantizer and define the inverted file.

    ``centroids`` short-circuits training (the reference's Array init) —
    used by the deterministic oracle path; its rows are labelled in one
    map pass (:func:`_label_rows`), with the literal fold's labels.

    The returned ``lists`` is a lazy plan over ``dataset``: the caller
    owns it, and persists it (or saves the index) to search it more
    than once without recomputing it. An index returned by
    :func:`ivf_flat_extend` instead owns a materialized table.
    """
    d = dataset.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).alias("vec"))
    fixed = centroids is not None
    if centroids is None:
        train = d.sample(fraction=min(1.0, trainset_fraction), seed=seed)
        model = kmeans_fit(train, n_lists, max_iter=kmeans_n_iters,
                           seed=seed, metric=metric, balanced=True)
        centroids = model.centroids
    lists = None
    if add_data_on_build:
        if fixed:
            # pinned centroids: the oracle's literal-fold labels, from
            # one map pass
            lists = _label_rows(d, centroids, "ivf_flat_build")
        else:
            # trained path: one map-only pass emits (id, list_id, vec) —
            # GEMM argmin AND the vector carry, no label re-join shuffle
            lists = assign(d, centroids, method="blas", passthrough=True) \
                .select("id", F.col("label").alias("list_id"),
                        F.col("_v").alias("vec"))
    return IVFFlatIndex(centroids=np.asarray(centroids, float), lists=lists,
                        metric=metric)


def ivf_flat_search(index: IVFFlatIndex, queries: DataFrame, k: int = 10,
                    n_probes: int = 8, *, qid_col: str = "qid",
                    qvec_col: str = "vec", metric: str | None = None,
                    method: str = "expr",
                    prefilter: Column | None = None) -> DataFrame:
    """Partition-pruned ANN search → ``(qid, nid, distance, rank)``.

    ``method="expr"`` scores the probed rows with the JVM distance
    expression (oracle-exact). ``method="blas"`` is the throughput
    path (``ivfflat_interleaved_scan`` analog): the query batch comes
    to the driver, :func:`~cuvs_spark.cluster.kmeans.coarse_probes`
    picks each query's lists, and one map pass over the inverted file
    GEMM-scores every probed list against exactly the queries probing
    it, keeping a local top-k before the single merge shuffle — see
    :func:`_probe_scan`."""
    metric = metric or index.metric
    # bitset-filter analog (filters.pyx works across index types): a
    # boolean Column over the inverted file (id / list_id / vec),
    # applied BEFORE any distance math, shared by every method —
    # Catalyst pushes id-predicates into the (partition-pruned) scan
    lists = index.lists if prefilter is None else index.lists.filter(prefilter)
    q = queries.select(F.col(qid_col).cast("long").alias("qid"),
                       F.col(qvec_col).alias("_qv"))
    if method == "blas":
        from cuvs_spark.operators.brute_force import _pairwise_np
        from cuvs_spark.operators.select_k import knn_merge_parts
        qids, Q = _query_matrix(q, index.centroids.shape[1], "ivf_flat_search")

        def score(_, lid, X, Q):
            return _pairwise_np(Q, X.astype(np.float64), metric)

        minimize = is_min_close(metric)
        local = _probe_scan(lists, "vec", index.centroids, qids, Q, n_probes,
                            k, minimize, score)
        return knn_merge_parts(local, k, select_min=minimize)
    from cuvs_spark.plans.layout import spread_narrow
    # r14: the coarse literal fold is per-QUERY heavy compute — spread a
    # narrow query batch over the cores (no-op when already split)
    q = spread_narrow(q, "qid")
    # coarse: top-n_probes lists per query (always by the *coarse* metric
    # of the quantizer — sqeuclidean — matching ivf_flat_search.cuh).
    # r14: map-only literal slice of the best-first sorted centroid fold
    # — same rows and tie order as the old broadcast-join + window
    # (array_sort on (d, l) structs == ORDER BY _cd, list_id), with the
    # BroadcastNestedLoopJoin, Sort and window Exchange all gone.
    cs = coarse_sorted_sql("_qv", index.centroids)
    # r15: the query vector rides along through the probe explode (the
    # probe set is a pure function of q, so re-joining q on qid only
    # re-attached a column this projection already holds).
    probes = (q.select(
        "qid", "_qv",
        F.explode(F.expr(f"slice({cs}, 1, {n_probes})")).alias("_s"))
        .select("qid", F.col("_s.l").alias("list_id"), "_qv"))
    # fine: broadcast the (qid, list_id, qv) probe set against the
    # inverted file — only probed lists are scanned, dataset side never
    # shuffles.
    fine = lists.join(F.broadcast(probes), "list_id")
    fdist = F.expr(distance_sql_spark(metric, "_qv", "vec"))
    pairs = fine.select("qid", F.col("id").alias("nid"),
                        fdist.alias("distance"))
    return select_k(pairs, "qid", "distance", k,
                    select_min=is_min_close(metric), tie_cols=["nid"])


def _query_matrix(q: DataFrame, dim: int,
                  op: str) -> tuple[np.ndarray, np.ndarray]:
    """A ``(qid, _qv)`` query batch on the driver → ``(qids, Q)``
    (small by contract). A null vector probes nothing, as on the SQL
    path; a wrong length raises here, before any job over the index."""
    pdf = q.filter(F.col("_qv").isNotNull()).toPandas()
    qids = pdf["qid"].to_numpy(np.int64)
    return qids, vec_matrix(qids, pdf["_qv"].to_numpy(), dim, op)


def vec_matrix(ids: np.ndarray, vecs, dim: int, op: str) -> np.ndarray:
    """One batch's vectors as a float64 ``(n, dim)`` matrix (exact for
    float32 and float64 inputs); a null vector or a length other than
    the index dim raises, naming the row's id, its length and the dim."""
    bad = next(((i, v) for i, v in zip(ids, vecs)
                if v is None or len(v) != dim), None)
    if bad is not None:
        what = "a null vector" if bad[1] is None else f"{len(bad[1])} dims"
        raise ValueError(f"{op}: id {bad[0]} has {what} but the index "
                         f"has {dim} dims")
    return (np.vstack(vecs).astype(np.float64) if len(vecs)
            else np.empty((0, dim)))


def _probe_scan(table: DataFrame, payload: str, centroids: np.ndarray,
                qids: np.ndarray, Q: np.ndarray, n_probes: int, k: int,
                minimize: bool, score, consts=None) -> DataFrame:
    """One pass over an IVF table ``(id, list_id, <payload>)`` → local
    top-k rows ``(qid, nid, distance)`` — the reference's
    ``select_clusters`` + per-list scan (``ivf_flat_search.cuh:41``),
    shared by the ``blas`` search of every IVF variant.

    The driver computes every query's probes (:func:`coarse_probes`,
    the same rows as the SQL fold), groups them into ``{list_id:
    (qids, Q)}`` and broadcasts that with ``consts``. Each partition
    of the table then scores its own probed lists in place —
    ``score(consts, list_id, P, Q)`` returns the ``(len(Q), len(P))``
    distance tile for the list's stacked payload rows ``P`` — and
    emits each list's local top-k (:func:`_local_topk`: ties at the
    k-th score go to the lowest ids). Unprobed lists are filtered out
    before the scan (file-level pruning on a ``partitionBy(list_id)``
    table); the table never shuffles. The caller merges with
    ``knn_merge_parts`` (whose partial ``WindowGroupLimit`` keeps k
    rows per query per partition), so the only exchange is that
    ``n_parts × q × k`` merge — or, where one id sits in several lists
    (ScaNN's SOAR spill), a per-(qid, id) collapse before it."""
    import pandas as pd

    from cuvs_spark.cluster.kmeans import coarse_probes

    probes = coarse_probes(Q, centroids, n_probes)
    flat = probes.ravel()
    order = np.argsort(flat, kind="stable")
    rows_of = np.repeat(np.arange(len(Q)), probes.shape[1])[order]
    lids, starts = np.unique(flat[order], return_index=True)
    by_list = {int(lid): (qids[r], Q[r])
               for lid, r in zip(lids, np.split(rows_of, starts[1:]))}
    bc = table.sparkSession.sparkContext.broadcast((by_list, consts))

    def scan(batches):
        by_list, consts = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            P = np.vstack(pdf[payload].to_numpy())
            ids_all = pdf["id"].to_numpy(np.int64)
            outs = []
            for lid, pos in pdf.groupby("list_id", sort=False).indices.items():
                hit = by_list.get(int(lid))
                if hit is None:
                    continue
                bq, BQ = hit
                D = score(consts, int(lid), P[pos], BQ)
                ids = ids_all[pos]
                part = _local_topk(D if minimize else -D, ids, k)
                outs.append(pd.DataFrame({
                    "qid": np.repeat(bq, part.shape[1]),
                    "nid": ids[part].ravel(),
                    "distance": np.take_along_axis(D, part, axis=1).ravel()}))
            if outs:
                yield pd.concat(outs)

    if len(by_list) < len(centroids):
        table = table.filter(F.col("list_id").isin(list(by_list)))
    return table.select("list_id", "id", payload).mapInPandas(
        scan, "qid long, nid long, distance double")


def _local_topk(S: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Column positions of each row's ``min(k, S.shape[1])`` smallest
    scores in the tile ``S`` (one row per query, one column per
    candidate ``ids``), unordered. ``np.argpartition`` picks among the
    candidates tied at the k-th score arbitrarily; where it kept fewer
    of them than tie, the slots go to the lowest ids, the ones
    ``knn_merge_parts`` and the ``expr`` path keep, so the result does
    not depend on how the table is partitioned. O(S.size), plus a sort
    of the tied candidates of such rows."""
    kk = min(k, S.shape[1])
    part = np.argpartition(S, kk - 1, axis=1)[:, :kk]
    kth = np.take_along_axis(S, part[:, kk - 1:], axis=1)
    # every score below the k-th is kept, so a row with more than kk
    # scores at or below it has tied candidates left out
    for r in np.flatnonzero(np.count_nonzero(S <= kth, axis=1) > kk):
        s, t, p = S[r], kth[r, 0], part[r]
        better = p[s[p] < t]
        ties = np.flatnonzero(s == t)
        ties = ties[np.argsort(ids[ties], kind="stable")]
        part[r] = np.concatenate([better, ties[:kk - len(better)]])
    return part


def ivf_flat_extend(index: IVFFlatIndex, new_rows: DataFrame, *,
                    id_col: str = "id", vec_col: str = "vec",
                    adaptive_centers: bool = False) -> IVFFlatIndex:
    """``extend(new_vectors, new_indices)`` (ivf_flat.pyx:467): assign
    new rows to their nearest existing center and append.

    The new rows are labelled by :func:`_label_rows` (the same labels as
    a build on these centres), and the returned index owns its table:
    :func:`_extended_table` materializes the old table plus the new rows
    once, in the old table's partition count, so later searches read
    neither the caller's batch nor the old lineage again. Spark frees
    that table once no index object references it; the index passed in
    keeps its own table and stays searchable.

    ``adaptive_centers=True`` (ivf_flat.pyx:78-88) drifts each center to
    the mean of its (now larger) list — one posexplode aggregation over
    the updated inverted file, k×dim rows to the driver."""
    d = new_rows.select(F.col(id_col).cast("long").alias("id"),
                        F.col(vec_col).alias("vec"))
    add = _label_rows(d, index.centroids, "ivf_flat_extend")
    lists = _extended_table(index.lists, add)
    centroids = index.centroids
    if adaptive_centers:
        rows = (lists.select("list_id", F.posexplode("vec").alias("dim", "x"))
                .groupBy("list_id", "dim")
                .agg(F.avg(F.col("x").cast("double")).alias("m"))
                .collect())
        centroids = np.array(index.centroids, copy=True)
        for r in rows:
            centroids[r["list_id"], r["dim"]] = r["m"]
    return IVFFlatIndex(centroids=centroids, lists=lists,
                        metric=index.metric)


def _label_rows(d: DataFrame, centroids: np.ndarray, op: str) -> DataFrame:
    """``(id, vec)`` rows → ``(id, list_id, vec)``, each labelled with
    its nearest of the fixed ``centroids`` in one map pass — the one
    labelling kernel of every fixed-centroid IVF build and extend
    (IVF-Flat, IVF-SQ, IVF-BQ, RaBitQ and the IVF-PQ ``expr`` encode).

    The labels are those of ``element_at(coarse_sorted_sql(vec,
    centroids), 1).l``, ties included: :func:`coarse_probes` with one
    probe is that fold's NumPy twin. A null vector or one whose length
    is not the centroids' dim raises :func:`vec_matrix`'s error.
    Encodes that need the list centre read it with
    :func:`_list_centre`."""
    import pandas as pd

    from cuvs_spark.cluster.kmeans import coarse_probes

    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]
    bc = d.sparkSession.sparkContext.broadcast(C)

    def label(batches):
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(np.int64)
            vecs = pdf["vec"].to_numpy()
            X = vec_matrix(ids, vecs, dim, op)
            yield pd.DataFrame({
                "id": ids,
                "list_id": coarse_probes(X, C, 1)[:, 0].astype(np.int32),
                "vec": vecs})

    vec_type = d.schema["vec"].dataType.simpleString()
    return d.mapInPandas(label, f"id long, list_id int, vec {vec_type}")


def _list_centre(centroids: np.ndarray) -> Column:
    """A labelled row's list centre, ``element_at(<centroid literal>,
    list_id + 1).cv``: the float32 ``array<float>`` the SQL fold
    carries as ``cv``, from the same literal
    (:func:`~cuvs_spark.cluster.kmeans.centroid_literal_sql`)."""
    lit = centroid_literal_sql(centroids)
    return F.expr(f"element_at({lit}, list_id + 1).cv")


def _extended_table(table: DataFrame, add: DataFrame) -> DataFrame:
    """The table of an extended IVF index: ``table`` plus the new rows
    ``add``, coalesced back to ``table``'s partition count (no shuffle)
    and materialized once by ``localCheckpoint``, so a search on the
    extended index costs what one on a fresh build of the same rows
    costs. The checkpoint cuts the lineage to the caller's batch and
    the old table; Spark's ContextCleaner frees its blocks once no
    DataFrame references it. Shared by the IVF-Flat, IVF-PQ, IVF-SQ and
    RaBitQ extends."""
    n = max(table.rdd.getNumPartitions(), 1)   # an empty base may have 0
    return table.unionByName(add).coalesce(n).localCheckpoint()


def ivf_list_sizes(index: IVFFlatIndex) -> DataFrame:
    """Per-list occupancy of the inverted file → ``(list_id,
    list_size)`` for every list INCLUDING empties — the direct analog
    of the reference index's per-list size array
    (``ivf_flat::index::list_sizes``, exposed on every IVF variant),
    and the balance audit behind probe-latency tails: a 10× oversized
    hot list makes every query that probes it 10× slower, which is why
    the reference trains with ``balanced`` k-means and why
    ``n_probes`` tuning starts from this table.

    Engine parity: pure BIGINT counts (empty lists via a
    range-generated left join, 0 not NULL).

    Scale shape: one map-side-combined groupBy on list_id over the
    inverted file; the n_lists-row frame joins broadcast."""
    spark = index.lists.sparkSession
    occ = (index.lists.groupBy(F.col("list_id").cast("long")
                               .alias("list_id"))
           .agg(F.count("*").alias("_n")))
    all_lists = spark.range(index.n_lists).select(
        F.col("id").alias("list_id"))
    return (all_lists.join(occ, "list_id", "left")
            .select("list_id",
                    F.coalesce(F.col("_n"), F.lit(0)).cast("long")
                    .alias("list_size")))


def ivf_list_sizes_sql(dataset_sql: str, cent_sql: str) -> str:
    """DuckDB twin of :func:`ivf_list_sizes` for the fixed-centroid
    build: assignment via the shared argmin template
    (``plans/oracle.assign_sql``), then the same zero-including
    rollup."""
    from cuvs_spark.plans.oracle import assign_sql
    return f"""
WITH asg AS ({assign_sql(dataset_sql, cent_sql).strip()}),
occ AS (SELECT label AS list_id, count(*) AS _n FROM asg GROUP BY label),
alll AS (SELECT DISTINCT CAST(label AS BIGINT) AS list_id
         FROM ({cent_sql}))
SELECT alll.list_id,
       CAST(COALESCE(occ._n, 0) AS BIGINT) AS list_size
FROM alll LEFT JOIN occ ON alll.list_id = occ.list_id
"""
