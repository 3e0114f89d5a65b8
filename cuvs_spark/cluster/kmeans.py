"""k-means — the canonical Spark iterative aggregation (SURVEY.md §2.6).

Reference: ``python/cuvs/cuvs/cluster/kmeans/kmeans.pyx:221`` (fit:
``init_method`` KMeansPlusPlus/Random/Array, ``max_iter``, ``tol``,
``n_init``, batched host-streaming), ``kmeans.pyx:358`` (predict),
``kmeans.pyx:449`` (cluster_cost); balanced variant
``cpp/src/cluster/kmeans_balanced.cuh`` (used by every IVF build).

Spark design (100 TB shape):

* **assign** — centroids live in a *broadcast* DataFrame; assignment is
  a broadcast join + ``min(struct(dist, label))`` aggregation. The
  partial aggregation collapses the n×k join output back to one row per
  point *before* the exchange, so the shuffle carries n rows, not n×k.
  All distance math is JVM expression code — no Python in the loop.
* **update** — per-label mean per dimension via ``posexplode`` +
  ``groupBy(label, dim)`` partial sums; k×dim result rows collect to the
  driver (tiny), which closes the loop — exactly MLlib's
  treeAggregate-to-driver shape.
* **init** — deterministic seeded sample ordered by ``xxhash64(id)``
  (Random), or k-means|| style oversampling (``init="parallel"``), or
  caller-supplied centroids (the reference's ``Array`` init) — the
  latter is what makes single steps SQL-oracle-able.

The hot loop materializes no m×k relation and runs one n-row shuffle
per iteration; centroid state is O(k·dim) on the driver regardless of
data scale.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cuvs_spark.functions.distance import distance_sql_spark


@dataclass
class KMeansModel:
    centroids: np.ndarray          # (k, dim) float64
    inertia: float | None = None
    n_iter: int = 0

    def centroids_df(self, spark) -> DataFrame:
        rows = [(int(i), [float(x) for x in c])
                for i, c in enumerate(self.centroids)]
        return spark.createDataFrame(rows, "label int, centroid array<float>")


def _centroid_df(spark, centroids) -> DataFrame:
    if isinstance(centroids, DataFrame):
        return centroids
    if isinstance(centroids, KMeansModel):
        centroids = centroids.centroids
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    return spark.createDataFrame(rows, "label int, centroid array<float>")


def centroid_literal_sql(centroids) -> str:
    """The centroid table as a SQL literal
    ``array<struct<l:int, cv:array<float>>>`` in label order.

    r14 optimization (guide §2.4 "remove shuffles outright"): when the
    centroids are already a driver-side ndarray — every fixed-centroid
    gate path and every trained index — the nearest/top-probe stage
    does not need a join against a centroid DataFrame at all; folding
    over this literal turns assignment into a map-only projection
    (BroadcastNestedLoopJoin + Sort + Exchange + 2×SortAggregate → one
    Project). Values are bit-identical to the createDataFrame path:
    ``CAST(<repr(double)> AS FLOAT)`` performs the same
    round-to-nearest float32 narrowing the ``array<float>`` schema did.
    """
    if isinstance(centroids, KMeansModel):
        centroids = centroids.centroids
    rows = []
    for i, c in enumerate(np.asarray(centroids, dtype=np.float64)):
        vals = ", ".join(f"CAST({float(x)!r} AS FLOAT)" for x in c)
        rows.append(f"named_struct('l', {int(i)}, 'cv', array({vals}))")
    return "array(" + ", ".join(rows) + ")"


def coarse_sorted_sql(vec_sql: str, centroids, *,
                      metric: str = "sqeuclidean") -> str:
    """SQL for ``array<struct<d:double, l:int, cv:array<float>>>``
    sorted best-first (distance asc, label asc) over the literal
    centroid table — the shared kernel of map-only nearest-centroid
    assignment (``element_at(..., 1)``) and coarse top-``n_probes``
    selection (``slice(..., 1, n)`` + explode).

    ``array_sort`` on structs compares ``d`` then ``l`` with the same
    ordering (NaN greatest) as ``min(struct(d, l))`` and the
    ``row_number() ORDER BY d, l`` window it replaces, so rows AND ties
    come out identical; ``l`` is unique so ``cv`` never participates in
    the comparison."""
    from cuvs_spark.functions.distance import distance_sql_spark
    lit = centroid_literal_sql(centroids)
    dist = distance_sql_spark(metric, vec_sql, "c.cv")
    return (f"array_sort(transform({lit}, "
            f"c -> named_struct('d', {dist}, 'l', c.l, 'cv', c.cv)))")


# queries per block of the driver-side probe kernel: bounds its
# (block × n_lists) float64 distance tile
_PROBE_BLOCK = 4096


def coarse_probes(Q: np.ndarray, centroids, n_probes: int) -> np.ndarray:
    """Driver-side coarse probes → ``(n_queries, min(n_probes,
    n_lists))`` list ids, best first: the NumPy twin of
    ``slice(coarse_sorted_sql(vec, centroids), 1, n_probes)``.

    Bit-identical to the SQL rows, ties included, by construction:
    the centroids narrow to float32 exactly as the literal's
    ``CAST(… AS FLOAT)`` does; each distance folds ``(x − y)²`` in
    float64 left to right, one dimension at a time, as
    ``aggregate(zip_with(…))`` does (a GEMM would reassociate the sum);
    and a stable argsort keeps equal distances in label order, which
    is ``array_sort``'s ``(d, l)`` order (NaN sorts last in both)."""
    Q = np.asarray(Q, dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float32).astype(np.float64)
    p = min(int(n_probes), len(C))
    out = np.empty((len(Q), p), dtype=np.int64)
    for s in range(0, len(Q), _PROBE_BLOCK):
        Qb = Q[s:s + _PROBE_BLOCK]
        D = np.zeros((len(Qb), len(C)))
        for j in range(C.shape[1]):
            t = Qb[:, j, None] - C[None, :, j]
            t *= t
            D += t
        out[s:s + len(Qb)] = np.argsort(D, axis=1, kind="stable")[:, :p]
    return out


def gemm_argmin(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Nearest centroid of each float64 row of ``X``: argmin over
    ``‖c‖² − 2·x·c`` from one GEMM, ties to the lowest label — the
    labels of :func:`assign`'s ``blas`` kernel, bit for bit."""
    return ((C * C).sum(1)[None, :] - 2.0 * (X @ C.T)).argmin(1)


def assign(df: DataFrame, centroids, *, id_col: str = "id",
           vec_col: str = "vec", metric: str = "sqeuclidean",
           dist_col: str | None = None, method: str = "expr",
           passthrough: bool = False) -> DataFrame:
    """Nearest-centroid assignment: ``(id, label[, distance])``.

    ``passthrough=True`` keeps the vector in the output as ``_v``
    (r14, guide §2.4): consumers that need both the label and the
    vector — the balanced-rebalance scorer — avoid a full shuffle
    join back on id. Supported on the driver-side-centroid paths
    (blas kernel and literal fold), which is every caller that wants
    it; labels and distances are bit-identical to the plain call.

    ``method="expr"``: broadcast join + min-struct partial aggregation
    (see module doc); ties break to the lowest label, matching the
    oracle's ``ORDER BY dist, label LIMIT 1``. Oracle-exact.

    ``method="blas"`` (sqeuclidean only): map-only pandas kernel — the
    centroid matrix broadcasts once, each Arrow batch takes one GEMM
    argmin. No join, no shuffle, ~20× the throughput; argmin's
    first-minimum rule gives the same lowest-label tie-break. The
    trained (non-oracle) paths default to this."""
    spark = df.sparkSession
    if method == "blas" and metric == "sqeuclidean":
        import pandas as pd
        if isinstance(centroids, KMeansModel):
            centroids = centroids.centroids
        C = np.asarray(centroids, dtype=np.float64)
        bc = spark.sparkContext.broadcast(C)

        def argmin(batches):
            C = bc.value
            cn = (C * C).sum(1)[None, :]
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
                D = cn - 2.0 * (X @ C.T)
                lab = D.argmin(1)
                out = pd.DataFrame({"id": pdf["id"].to_numpy(),
                                    "label": lab.astype(np.int32)})
                if dist_col is not None:
                    xn = (X * X).sum(1)
                    out[dist_col] = D[np.arange(len(lab)), lab] + xn
                if passthrough:
                    out["_v"] = pdf["_v"].to_numpy()
                yield out

        d = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
        schema = "id long, label int" + (
            f", {dist_col} double" if dist_col is not None else "")
        if passthrough:
            schema += ", _v " + d.schema["_v"].dataType.simpleString()
        return d.mapInPandas(argmin, schema=schema)
    d = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    if not isinstance(centroids, DataFrame):
        # driver-side centroids: map-only literal-fold argmin — no join,
        # no exchange, no aggregate (r14, guide §2.4). element_at(…, 1)
        # of the best-first sorted struct array IS min(struct(d, l)).
        best = F.expr(
            f"element_at({coarse_sorted_sql('_v', centroids, metric=metric)}, 1)")
        keep = (["_v"] if passthrough else [])
        out = d.withColumn("_b", best).select(
            "id", F.col("_b.l").alias("label"),
            F.col("_b.d").alias("distance"), *keep)
        if dist_col is None:
            return out.drop("distance")
        return out.withColumnRenamed("distance", dist_col)
    c = _centroid_df(spark, centroids)
    dist = F.expr(distance_sql_spark(metric, "_v", "centroid"))
    joined = d.join(F.broadcast(c)).select(
        "id", F.struct(dist.alias("d"), F.col("label").alias("l")).alias("_s"))
    best = joined.groupBy("id").agg(F.min("_s").alias("_b"))
    out = best.select("id", F.col("_b.l").alias("label"),
                      F.col("_b.d").alias("distance"))
    if dist_col is None:
        return out.select("id", "label")
    return out.withColumnRenamed("distance", dist_col)


def kmeans_predict(df: DataFrame, model, *, id_col: str = "id",
                   vec_col: str = "vec",
                   metric: str = "sqeuclidean") -> DataFrame:
    """``kmeans.pyx:358`` — labels for new points."""
    return assign(df, model, id_col=id_col, vec_col=vec_col, metric=metric)


def cluster_cost(df: DataFrame, model, *, id_col: str = "id",
                 vec_col: str = "vec", metric: str = "sqeuclidean",
                 ndigits: int = 6) -> DataFrame:
    """``kmeans.pyx:449`` — inertia: sum of min distances. Rounded so the
    cross-engine group-sum order difference can't flip the hash."""
    a = assign(df, model, id_col=id_col, vec_col=vec_col, metric=metric,
               dist_col="distance")
    return a.agg(F.round(F.sum("distance"), ndigits).alias("inertia"))


def _update_means(df: DataFrame, centroids, *, id_col: str, vec_col: str,
                  metric: str, method: str = "expr") -> tuple[np.ndarray, np.ndarray]:
    """One Lloyd update → (new_centroids, counts) on the driver.

    ``method="expr"``: assignment via the broadcast-join expression,
    means via posexplode partial aggregation (n×dim-row shuffle).
    ``method="blas"``: one fused mapInPandas pass — each partition does
    the argmin against the broadcast centroid matrix with a GEMM tile
    AND accumulates its per-label (sum_vec, count) partials locally, so
    exactly n_partitions × k rows reach the driver and nothing
    shuffles. This is the 100 TB Lloyd iteration (and only legal for
    sqeuclidean assignment, which is what every IVF build uses)."""
    spark = df.sparkSession
    d = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    k, dim = np.asarray(centroids).shape
    out = np.array(centroids, dtype=np.float64, copy=True)
    acc = np.zeros((k, dim)); cnt = np.zeros(k)
    if method == "blas" and metric == "sqeuclidean":
        import pandas as pd
        C = np.asarray(centroids, dtype=np.float64)
        bc = spark.sparkContext.broadcast(C)

        def partials(batches):
            C = bc.value
            kk, dd = C.shape
            s = np.zeros((kk, dd)); n = np.zeros(kk, dtype=np.int64)
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
                lab = gemm_argmin(X, C)
                np.add.at(s, lab, X)
                np.add.at(n, lab, 1)
            for j in range(kk):
                if n[j]:
                    yield pd.DataFrame({"label": [j], "n": [int(n[j])],
                                        "s": [s[j].tolist()]})

        rows = (d.select("_v")
                .mapInPandas(partials,
                             schema="label int, n long, s array<double>")
                .collect())
        for r in rows:
            acc[r["label"]] += np.array(r["s"])
            cnt[r["label"]] += r["n"]
    else:
        if not isinstance(centroids, DataFrame):
            # label as a map-only projection (r14): the old
            # assign + join-back re-derived d and shuffled it twice
            # for a value that is a pure function of the row
            labeled = d.select(
                F.expr(f"element_at({coarse_sorted_sql('_v', centroids, metric=metric)}, 1).l")
                .alias("label"), "_v")
        else:
            lab = assign(d, centroids, id_col="id", vec_col="_v",
                         metric=metric)
            labeled = d.join(lab, "id").select("label", "_v")
        sums = (labeled
                .select("label", F.posexplode("_v").alias("dim", "x"))
                .groupBy("label", "dim")
                .agg(F.sum(F.col("x").cast("double")).alias("s"),
                     F.count("*").alias("n"))
                .collect())
        for r in sums:
            acc[r["label"], r["dim"]] = r["s"]
            cnt[r["label"]] = r["n"]
    nonempty = cnt > 0
    out[nonempty] = acc[nonempty] / cnt[nonempty, None]
    return out, cnt


def lloyd_step(df: DataFrame, centroids, *, id_col: str = "id",
               vec_col: str = "vec", metric: str = "sqeuclidean") -> np.ndarray:
    """One externally-visible Lloyd iteration (assign → means)."""
    new, _ = _update_means(df, centroids, id_col=id_col, vec_col=vec_col,
                           metric=metric)
    return new


def _init_centroids(df: DataFrame, k: int, *, id_col: str, vec_col: str,
                    init: str, seed: int, metric: str) -> np.ndarray:
    d = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    if init == "random":
        # deterministic "random": order by a seeded hash of the id
        rows = (d.orderBy(F.xxhash64(F.col("id"), F.lit(seed)), "id")
                .limit(k).collect())
        return np.array([r["_v"] for r in rows], dtype=np.float64)
    # k-means||-style: oversample points by hash, then greedy
    # farthest-point refinement on the driver (small sample)
    sample = (d.orderBy(F.xxhash64(F.col("id"), F.lit(seed)), "id")
              .limit(max(25 * k, 256)).collect())
    P = np.array([r["_v"] for r in sample], dtype=np.float64)
    chosen = [0]
    d2 = ((P - P[0]) ** 2).sum(1)
    for _ in range(1, k):
        nxt = int(np.argmax(d2))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((P - P[nxt]) ** 2).sum(1))
    return P[chosen]


def kmeans_fit(df: DataFrame, k: int, *, max_iter: int = 20, tol: float = 1e-4,
               init: str = "parallel", seed: int = 42, id_col: str = "id",
               vec_col: str = "vec", metric: str = "sqeuclidean",
               balanced: bool = False, n_init: int = 1,
               update_method: str = "blas",
               centroid_round: int | None = None) -> KMeansModel:
    """Lloyd's algorithm; ``balanced=True`` adds the reference's
    size-capping rebalance (``kmeans_balanced.cuh``): oversized clusters
    shed their farthest points to the next-nearest center each round,
    which is what keeps IVF partitions even at scale. ``n_init`` restarts
    with shifted seeds and keeps the lowest-inertia run (kmeans.pyx:48
    ``n_init``).

    ``centroid_round`` rounds every centroid to that many decimals after
    each update. With a fixed ndarray ``init``, ``tol=0.0`` and
    ``update_method="expr"``, the whole fit is reproducible across
    engines (each iteration's input is a rounded, order-insensitive
    value — shuffle-order FP noise cannot compound), which is what the
    DuckDB gate oracle keys on."""
    if n_init > 1 and not isinstance(init, np.ndarray):
        best = None
        for r in range(n_init):
            m = kmeans_fit(df, k, max_iter=max_iter, tol=tol, init=init,
                           seed=seed + 1000003 * r, id_col=id_col,
                           vec_col=vec_col, metric=metric, balanced=balanced)
            cost = cluster_cost(df.select(F.col(id_col).alias("id"),
                                          F.col(vec_col).alias("vec")),
                                m).head()["inertia"]
            if best is None or cost < best[0]:
                best = (cost, m)
        best[1].inertia = best[0]
        return best[1]
    if isinstance(init, np.ndarray):
        centroids = init.astype(np.float64)
    else:
        centroids = _init_centroids(df, k, id_col=id_col, vec_col=vec_col,
                                    init=init, seed=seed, metric=metric)
    n_iter = 0
    for n_iter in range(1, max_iter + 1):
        new, cnt = _update_means(df, centroids, id_col=id_col,
                                 vec_col=vec_col, metric=metric,
                                 method=update_method)
        if centroid_round is not None:
            new = np.round(new, centroid_round)
        shift = float(np.sqrt(((new - centroids) ** 2).sum(1)).max())
        centroids = new
        if shift < tol:
            break
    if balanced:
        centroids = _rebalance(df, centroids, id_col=id_col, vec_col=vec_col,
                               metric=metric)
    model = KMeansModel(centroids=centroids, n_iter=n_iter)
    return model


def _rebalance(df: DataFrame, centroids: np.ndarray, *, id_col: str,
               vec_col: str, metric: str, max_ratio: float = 2.0,
               rounds: int = 4) -> np.ndarray:
    """Iterative split rebalance (``kmeans_balanced.cuh``'s
    hierarchical-splitting semantics): each round every oversized
    cluster splits into its near-half / far-half member means — the far
    half re-seeds the emptiest center — until no cluster exceeds
    ``max_ratio × n/k`` or ``rounds`` is hit. One distributed pass per
    round (assign + per-(label, half) dim means, all map-side-combined);
    driver state is k centers."""
    k = len(centroids)
    out = np.asarray(centroids, float).copy()
    d = df.select(F.col(id_col).cast("long").alias("id"),
                  F.col(vec_col).alias("_v"))
    for _ in range(rounds):
        # r14 (guide §2.4): labels + vectors in ONE map pass
        # (passthrough assign — no shuffle join back on id), the scoring
        # centroid fetched from a double literal by label (no broadcast
        # join), and the scored relation persisted so the med / halves
        # branches of the single collect don't run the assignment twice.
        # Same labels, same _d doubles, same split as the joined form.
        lab = assign(d, out, id_col="id", vec_col="_v", metric=metric,
                     method="blas" if metric == "sqeuclidean" else "expr",
                     passthrough=True)
        clit = "array(" + ", ".join(
            "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)"
                                 for x in c) + ")"
            for c in out) + ")"
        dist = F.expr(distance_sql_spark("sqeuclidean", "_v", "_c"))
        scored = (lab.withColumn("_c", F.expr(f"element_at({clit}, "
                                              f"label + 1)"))
                  .select("id", "label", "_v", dist.alias("_d"))
                  .persist())
        med = (scored.groupBy("label")
               .agg(F.expr("percentile_approx(_d, 0.5)").alias("_m")))
        halves = (scored.join(F.broadcast(med), "label")
                  .withColumn("_far", (F.col("_d") > F.col("_m")).cast("int"))
                  .select("label", "_far", F.posexplode("_v")
                          .alias("_dim", "_x"))
                  .groupBy("label", "_far", "_dim")
                  .agg(F.avg("_x").alias("_mean"), F.count("*").alias("_n")))
        rows = halves.collect()
        scored.unpersist()
        sizes: dict[int, int] = {}
        means: dict[tuple, list] = {}
        for r in rows:
            key = (int(r["label"]), int(r["_far"]))
            means.setdefault(key, [0.0] * out.shape[1])
            means[key][int(r["_dim"])] = float(r["_mean"])
            if int(r["_dim"]) == 0:
                sizes[key[0]] = sizes.get(key[0], 0) + int(r["_n"])
        n_total = sum(sizes.values())
        cap = max_ratio * n_total / k
        heavy = sorted((l for l, n in sizes.items() if n > cap),
                       key=lambda l: -sizes[l])
        if not heavy:
            break
        light = sorted(range(k), key=lambda l: sizes.get(l, 0))
        li = 0
        for h in heavy:
            # skip donor centers that are themselves oversized
            while li < len(light) and light[li] in heavy:
                li += 1
            if li >= len(light):
                break
            far = means.get((h, 1))
            near = means.get((h, 0))
            if far is None or near is None:
                continue
            out[light[li]] = np.array(far)
            out[h] = np.array(near)
            li += 1
    return out
