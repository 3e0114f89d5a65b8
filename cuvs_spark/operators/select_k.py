"""Batched per-key top-k — THE core physical primitive (SURVEY.md §2.4).

Reference: ``cpp/include/cuvs/selection/select_k.hpp:70-199`` (batched
per-row k smallest/largest with ``select_min`` and ``sorted`` flags; algo
auto-choice at ``select_k.hpp:78``).

Two physical strategies, mirroring the reference's algo auto-selection:

* ``window`` — ``row_number() OVER (PARTITION BY key ORDER BY …)``.
  One shuffle of all candidate rows. Right when candidates-per-key is
  already small (post-pruning IVF scans, merge steps).
* ``agg`` — ``groupBy(key).agg(slice(array_sort(collect_list(…)),1,k))``
  then explode. Same shuffle volume but no sort-based window exchange;
  often faster when keys are many and rows-per-key modest.
* ``partial`` — salted two-level top-k: stage 1 groups by
  ``(key, hash-salt)`` so a hot key's rows split across ``n_buckets``
  reducers, each capping its bucket to k; stage 2 merges the ≤
  ``k·n_buckets`` survivors per key. Shuffle bytes match ``agg`` but
  no single reducer ever holds or sorts more than its bucket — the
  strategy for skewed keys (per-domain caps, hot hash groups), exact
  for any ``n_buckets``.

For the *huge* case (brute-force scans where rows-per-key ≈ dataset
size) neither is right — the kNN operators avoid materializing the m×n
pair relation entirely and do partition-local top-k inside the scan
(``operators/brute_force.py``), then a final small ``select_k`` here:
exactly the reference's tiled select_k + ``knn_merge_parts`` shape
(``knn_brute_force.cuh:62,267,309``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def select_k(df: DataFrame,
             key_cols: Sequence[str] | str,
             order_col: str,
             k: int,
             *,
             select_min: bool = True,
             tie_cols: Sequence[str] = (),
             rank_col: str | None = "rank",
             strategy: str = "window",
             n_buckets: int = 32) -> DataFrame:
    """Keep the k best rows per key, ranked 1..k, deterministic ties.

    ``select_min=False`` keeps the k largest (inner_product ordering,
    ``distance.hpp:72-85``). ``n_buckets`` is the salt fan-out of the
    ``partial`` strategy (ignored otherwise).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(order_col).asc() if select_min else F.col(order_col).desc()]
    order += [F.col(c).asc() for c in tie_cols]

    if strategy == "auto":
        # mirror of the reference's SelectAlgo::kAuto (select_k.hpp:78):
        # small k → hash-agg with bounded sorted slices (no sort-based
        # window exchange); large k → the window (full sort pays off)
        strategy = "agg" if k <= 64 else "window"

    if strategy == "partial":
        # salted two-level exact top-k (knn_merge_parts' partial/final
        # shape applied per key): the salt is a pure function of the
        # row's non-key columns, so the split is deterministic and
        # partition-independent; each (key, salt) reducer caps its
        # bucket to k, then the ≤ k·n_buckets survivors merge per key
        other = [c for c in df.columns if c not in keys]
        # salt over every HASHABLE non-key column: hashing only the
        # order value would collapse a hot key's rows into a handful of
        # buckets whenever scores are quantized/duplicated, silently
        # restoring the single-reducer melt this strategy exists to
        # prevent. MapType columns are excluded (xxhash64 rejects maps
        # at plan time); order_col/tie_cols always participate.
        from pyspark.sql.types import MapType
        hashable = [f.name for f in df.schema.fields
                    if f.name not in keys
                    and not isinstance(f.dataType, MapType)]
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in hashable]),
                      F.lit(int(n_buckets)))
        sort_struct = F.struct(
            (F.col(order_col) if select_min else -F.col(order_col)).alias("_o"),
            *[F.col(c).alias(f"_t{i}") for i, c in enumerate(tie_cols)],
            F.struct(*other).alias("_row"))
        local = (df.withColumn("_salt", salt)
                 .groupBy(*keys, "_salt")
                 .agg(F.slice(F.array_sort(F.collect_list(sort_struct)),
                              1, k).alias("_top"))
                 .select(*keys, F.explode("_top").alias("_e"))
                 .select(*keys,
                         *[F.col(f"_e._row.{c}").alias(c) for c in other]))
        return select_k(local, keys, order_col, k, select_min=select_min,
                        tie_cols=tie_cols, rank_col=rank_col,
                        strategy="agg")

    if strategy == "agg":
        other = [c for c in df.columns if c not in keys]
        sort_struct = F.struct(
            (F.col(order_col) if select_min else -F.col(order_col)).alias("_o"),
            *[F.col(c).alias(f"_t{i}") for i, c in enumerate(tie_cols)],
            F.struct(*other).alias("_row"))
        agg = df.groupBy(*keys).agg(
            F.slice(F.array_sort(F.collect_list(sort_struct)), 1, k).alias("_top"))
        out = agg.select(*keys, F.posexplode("_top").alias("_rank0", "_e"))
        cols = [*keys, *[F.col(f"_e._row.{c}").alias(c) for c in other]]
        if rank_col:
            cols.append((F.col("_rank0") + 1).cast("long").alias(rank_col))
        return out.select(*cols)

    # r15 (construction latency): one select carries the row_number,
    # the post-filter select emits the final columns — 3 analyzed
    # Datasets instead of 4; the optimized plan (CollapseProject +
    # column pruning) is identical to the withColumn/drop chain. The
    # row number takes a name the input does not use, and an input
    # column named ``rank_col`` is replaced in place, as withColumn did.
    # (Spark resolves names case-insensitively, so compare lower-cased.)
    taken = {c.lower() for c in df.columns}
    rn = "_rn"
    while rn in taken:
        rn += "_"
    w = Window.partitionBy(*keys).orderBy(*order)
    out = (df.select("*", F.row_number().over(w).alias(rn))
           .filter(F.col(rn) <= k))
    if not rank_col:
        return out.select(*df.columns)
    rank = F.col(rn).cast("long").alias(rank_col)
    final = [rank if c.lower() == rank_col.lower() else c
             for c in df.columns]
    if rank_col.lower() not in taken:
        final.append(rank)
    return out.select(*final)


def knn_merge_parts(parts: Sequence[DataFrame] | DataFrame,
                    k: int,
                    *,
                    qid_col: str = "qid",
                    dist_col: str = "distance",
                    id_col: str = "nid",
                    select_min: bool = True,
                    rank_col: str | None = "rank") -> DataFrame:
    """Merge several per-part kNN results into a global top-k.

    Reference ``cpp/include/cuvs/neighbors/knn_merge_parts.hpp:27``;
    in Spark this is a union + second top-k — the canonical
    partial/final aggregation shape, also how sharded multi-GPU search
    merges (``snmg.cuh:378`` TREE_MERGE ≈ Spark's tree-style exchange).
    """
    if isinstance(parts, DataFrame):
        df = parts
    else:
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
    df = df.drop(rank_col) if rank_col and rank_col in df.columns else df
    return select_k(df, qid_col, dist_col, k, select_min=select_min,
                    tie_cols=[id_col], rank_col=rank_col)
