"""DuckDB oracle-SQL generators.

Each operator's ``queries()`` entry in ``__spark_entry__`` pairs with an
ANSI-SQL string produced here, built from the *same* distance templates
as the Spark expressions (``functions/distance.py``) so double-precision
results are bit-identical and the driver's value-hash comparison passes
exactly — no tolerance games.
"""

from __future__ import annotations

from cuvs_spark.functions.distance import distance_sql_duckdb, is_min_close


def knn_sql(dataset_sql: str, queries_sql: str, k: int, metric: str,
            *, with_distance: bool = True, pair_where: str | None = None,
            p: float = 2.0) -> str:
    """Oracle for brute-force kNN: cross join + window top-k.

    ``dataset_sql``/``queries_sql`` are subqueries yielding
    ``(nid, dv)`` / ``(qid, qv)``.
    """
    order = "ASC" if is_min_close(metric) else "DESC"
    dist = distance_sql_duckdb(metric, "q.qv", "d.dv", p)
    where = f"WHERE {pair_where}" if pair_where else ""
    cols = "qid, nid, distance, rank" if with_distance else "qid, nid, rank"
    return f"""
WITH d AS ({dataset_sql}),
q AS ({queries_sql}),
pairs AS (
  SELECT q.qid AS qid, d.nid AS nid, {dist} AS distance
  FROM q CROSS JOIN d {where}
),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance {order}, nid ASC) AS rank
  FROM pairs
)
SELECT {cols} FROM ranked WHERE rank <= {k}
"""


def pairwise_sql(x_sql: str, y_sql: str, metric: str, p: float = 2.0) -> str:
    dist = distance_sql_duckdb(metric, "a.xa", "b.xb", p)
    return f"""
WITH a AS ({x_sql}), b AS ({y_sql})
SELECT a.i AS i, b.j AS j, {dist} AS distance FROM a CROSS JOIN b
"""


def eps_sql(x_sql: str, y_sql: str, eps: float, metric: str) -> str:
    return f"""
WITH a AS ({x_sql}), b AS ({y_sql}),
pairs AS (SELECT a.i AS i, b.j AS j,
  {distance_sql_duckdb(metric, 'a.xa', 'b.xb')} AS distance
  FROM a CROSS JOIN b)
SELECT i, j, distance FROM pairs WHERE distance <= {eps}
"""


def assign_sql(dataset_sql: str, cent_sql: str,
               metric: str = "sqeuclidean") -> str:
    """Nearest-centroid assignment ``(id, label)``; ties → lowest label
    (matches cluster/kmeans.py assign())."""
    dist = distance_sql_duckdb(metric, "d.dv", "c.cv")
    return f"""
WITH d AS ({dataset_sql}), c AS ({cent_sql}),
scored AS (
  SELECT d.id AS id, c.label AS label,
         row_number() OVER (PARTITION BY d.id ORDER BY {dist} ASC, c.label ASC) AS rn
  FROM d CROSS JOIN c
)
SELECT id, label FROM scored WHERE rn = 1
"""


def cluster_cost_sql(dataset_sql: str, cent_sql: str,
                     metric: str = "sqeuclidean", ndigits: int = 6) -> str:
    dist = distance_sql_duckdb(metric, "d.dv", "c.cv")
    return f"""
WITH d AS ({dataset_sql}), c AS ({cent_sql}),
best AS (
  SELECT d.id AS id, min({dist}) AS md
  FROM d CROSS JOIN c GROUP BY d.id
)
SELECT ROUND(CAST(sum(md) AS DOUBLE), {ndigits}) AS inertia FROM best
"""


def lloyd_step_sql(dataset_sql: str, cent_sql: str,
                   metric: str = "sqeuclidean", ndigits: int = 6) -> str:
    """One Lloyd iteration → (label, dim, val) per-dim means, rounded."""
    return f"""
WITH asg AS ({assign_sql(dataset_sql, cent_sql, metric)}),
d AS ({dataset_sql}),
exploded AS (
  SELECT asg.label AS label,
         CAST(generate_subscripts(d.dv, 1) AS BIGINT) - 1 AS dim,
         CAST(unnest(d.dv) AS DOUBLE) AS x
  FROM d JOIN asg ON d.id = asg.id
)
SELECT label, dim, ROUND(avg(x), {ndigits}) AS val
FROM exploded GROUP BY label, dim
"""


def _kmeans_chain_parts(dataset_sql: str, cent_sql: str, n_iters: int,
                        metric: str, ndigits: int) -> list[str]:
    """The chained-Lloyd CTE list shared by :func:`kmeans_fit_sql`
    (exploded centroid output) and :func:`kmeans_fit_cent_sql`
    (centroid-table output for downstream composition). The final CTE
    is ``cent_{n_iters} (label, cv)``."""
    rnd = f"list_transform(c.cv, v -> ROUND(CAST(v AS DOUBLE), {ndigits}))"
    parts = [f"d AS ({dataset_sql})",
             f"cent_0 AS (SELECT label, cv FROM ({cent_sql}))"]
    for i in range(1, n_iters + 1):
        dist = distance_sql_duckdb(metric, "d.dv", "c.cv")
        parts.append(f"""asg_{i} AS (
  SELECT id, label FROM (
    SELECT d.id AS id, c.label AS label,
           row_number() OVER (PARTITION BY d.id ORDER BY {dist} ASC, c.label ASC) AS rn
    FROM d CROSS JOIN cent_{i - 1} c) WHERE rn = 1
)""")
        parts.append(f"""means_{i} AS (
  SELECT label, dim, ROUND(avg(x), {ndigits}) AS val FROM (
    SELECT a.label AS label,
           CAST(generate_subscripts(d.dv, 1) AS BIGINT) - 1 AS dim,
           CAST(unnest(d.dv) AS DOUBLE) AS x
    FROM d JOIN asg_{i} a ON d.id = a.id)
  GROUP BY label, dim
)""")
        parts.append(f"""newc_{i} AS (
  SELECT label, list(val ORDER BY dim) AS cv FROM means_{i} GROUP BY label
)""")
        parts.append(f"""cent_{i} AS (
  SELECT c.label AS label, COALESCE(n.cv, {rnd}) AS cv
  FROM cent_{i - 1} c LEFT JOIN newc_{i} n ON c.label = n.label
)""")
    return parts


def kmeans_fit_sql(dataset_sql: str, cent_sql: str, n_iters: int,
                   metric: str = "sqeuclidean", ndigits: int = 6) -> str:
    """Full fixed-init Lloyd fit → exploded ``(label, dim, val)``.

    Chains ``n_iters`` assign→means steps as CTEs. Matches
    ``kmeans_fit(init=<fixed>, tol=0.0, update_method="expr",
    centroid_round=ndigits)``: each iteration's centroids are rounded to
    ``ndigits`` on BOTH engines, so shuffle-order FP noise in the means
    cannot compound across iterations. Empty clusters carry the previous
    (rounded) centroid via the LEFT JOIN / COALESCE, mirroring
    ``_update_means``'s nonempty mask."""
    parts = _kmeans_chain_parts(dataset_sql, cent_sql, n_iters, metric,
                                ndigits)
    return f"""
WITH {', '.join(parts)}
SELECT label, CAST(generate_subscripts(cv, 1) AS BIGINT) - 1 AS dim,
       ROUND(CAST(unnest(cv) AS DOUBLE), {ndigits}) AS val
FROM cent_{n_iters}
"""


def kmeans_fit_cent_sql(dataset_sql: str, cent_sql: str, n_iters: int,
                        metric: str = "sqeuclidean",
                        ndigits: int = 6) -> str:
    """The trained centroid TABLE ``(label, cv array<float>)`` of the
    same chained-Lloyd fit — for composing trained-quantizer oracles
    (e.g. :func:`ivf_flat_search_sql` with a TRAINED ``cent_sql``).

    The float cast is load-bearing: the Spark operators hand trained
    centroids downstream narrowed to float32 (the ``array<float>``
    centroid literal, ``kmeans.centroid_literal_sql``), so the
    engines only agree if DuckDB narrows the rounded doubles to float32
    the same way — IEEE round-to-nearest on identical inputs yields
    identical bits, and the distance folds then match exactly as they
    do for raw parquet float32 vectors."""
    parts = _kmeans_chain_parts(dataset_sql, cent_sql, n_iters, metric,
                                ndigits)
    return f"""
WITH {', '.join(parts)}
SELECT label, list_transform(cv, v -> CAST(v AS FLOAT)) AS cv
FROM cent_{n_iters}
"""


def ivf_flat_search_sql(dataset_sql: str, queries_sql: str, cent_sql: str,
                        k: int, n_probes: int, metric: str = "sqeuclidean",
                        coarse_metric: str = "sqeuclidean") -> str:
    """Full IVF pipeline with fixed centroids: assign → probe → scan."""
    order = "ASC" if is_min_close(metric) else "DESC"
    adist = distance_sql_duckdb(coarse_metric, "d.dv", "c.cv")
    pdist = distance_sql_duckdb(coarse_metric, "q.qv", "c.cv")
    fdist = distance_sql_duckdb(metric, "q.qv", "a.dv")
    return f"""
WITH d AS ({dataset_sql}), q AS ({queries_sql}), c AS ({cent_sql}),
asg AS (
  SELECT id, dv, label FROM (
    SELECT d.id AS id, d.dv AS dv, c.label AS label,
           row_number() OVER (PARTITION BY d.id ORDER BY {adist} ASC, c.label ASC) AS rn
    FROM d CROSS JOIN c) WHERE rn = 1
),
probes AS (
  SELECT qid, label FROM (
    SELECT q.qid AS qid, c.label AS label,
           row_number() OVER (PARTITION BY q.qid ORDER BY {pdist} ASC, c.label ASC) AS rn
    FROM q CROSS JOIN c) WHERE rn <= {n_probes}
),
pairs AS (
  SELECT q.qid AS qid, a.id AS nid, {fdist} AS distance
  FROM q JOIN probes p ON q.qid = p.qid
         JOIN asg a ON a.label = p.label
),
ranked AS (
  SELECT qid, nid, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance {order}, nid ASC) AS rank
  FROM pairs
)
SELECT qid, nid, distance, rank FROM ranked WHERE rank <= {k}
"""


def kde_sql(dataset_sql: str, queries_sql: str, bandwidth: float,
            kernel_template: str, metric: str) -> str:
    dist = distance_sql_duckdb(metric, "q.qv", "d.dv")
    u = f"(({dist}) / CAST({bandwidth} AS DOUBLE))"
    kern = kernel_template.format(u=u)
    # group-sum order is engine-dependent → round to 6 dp on both sides
    return f"""
WITH d AS ({dataset_sql}), q AS ({queries_sql})
SELECT q.qid AS qid, ROUND(CAST(sum({kern}) AS DOUBLE), 6) AS density
FROM q CROSS JOIN d GROUP BY q.qid
"""
