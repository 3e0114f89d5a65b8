"""Output checks that do not trust the engine: exact neighbours in
NumPy from the same seeded arrays, result-shape checks, and the corpus
manifest check. A failed check is reported as a failed operation by the
caller; nothing here raises on bad engine output."""

from __future__ import annotations

from collections import defaultdict

import numpy as np


def exact_knn(ids: np.ndarray, X: np.ndarray, Q: np.ndarray,
              k: int) -> np.ndarray:
    """Ids of the ``k`` exact sqeuclidean neighbours of each query row."""
    X = X.astype(np.float64)
    Q = Q.astype(np.float64)
    D = (Q * Q).sum(1)[:, None] - 2.0 * (Q @ X.T) + (X * X).sum(1)[None, :]
    part = np.argpartition(D, k - 1, axis=1)[:, :k]
    order = np.take_along_axis(D, part, axis=1).argsort(1)
    return ids[np.take_along_axis(part, order, axis=1)]


def group_neighbours(rows, key: str = "qid", val: str = "nid") -> dict:
    out = defaultdict(list)
    for r in rows:
        out[int(r[key])].append(int(r[val]))
    return dict(out)


def corrupt_neighbours(found: dict) -> dict:
    """Deliberately wrong answer of the right shape: every query gets
    the neighbour list of the next query."""
    keys = sorted(found)
    return {q: found[keys[(i + 1) % len(keys)]] for i, q in enumerate(keys)}


def check_knn(found: dict, qids: np.ndarray, truth: np.ndarray, k: int,
              floor: float) -> tuple[float, list[str]]:
    """Recall@k of ``found`` (qid -> neighbour ids) against ``truth``
    (one row of exact ids per qid), plus every shape problem: a query
    missing, a list that is not exactly ``k`` long, repeated ids, or
    recall under ``floor``."""
    problems = []
    hits = 0
    for qid, want in zip(qids, truth):
        got = found.get(int(qid), [])
        if len(got) != k:
            problems.append(f"qid {qid}: {len(got)} neighbours, want {k}")
        if len(set(got)) != len(got):
            problems.append(f"qid {qid}: repeated neighbour ids")
        hits += len(set(got) & set(int(x) for x in want[:k]))
    extra = set(found) - set(int(q) for q in qids)
    if extra:
        problems.append(f"{len(extra)} unknown qids in the result")
    recall = hits / (k * len(qids))
    if recall < floor:
        problems.append(f"recall@{k} {recall:.3f} under floor {floor}")
    return recall, problems


def check_graph(found: dict, srcs: np.ndarray, truth: np.ndarray,
                degree: int, floor: float) -> tuple[float, list[str]]:
    """Out-degree at most ``degree`` with no repeated edges, and the
    fraction of exact neighbours reached for the sampled ``srcs``."""
    problems = []
    hits = 0
    for s, want in zip(srcs, truth):
        got = found.get(int(s), [])
        if not got or len(got) > degree or len(set(got)) != len(got):
            problems.append(f"src {s}: bad out-edge list of {len(got)}")
        hits += len(set(got) & set(int(x) for x in want))
    recall = hits / truth.size
    if recall < floor:
        problems.append(f"graph recall {recall:.3f} under floor {floor}")
    return recall, problems


def check_curation(stages: dict, manifest: dict,
                   all_ids: np.ndarray) -> tuple[float, list[str]]:
    """Every document staged exactly once; every injected exact copy
    staged ``exact_dup``. Returns the share of all injected duplicates
    (exact and one-token edits) that were staged as a duplicate."""
    problems = []
    if len(stages) != len(all_ids) or set(stages) != set(int(i) for i in all_ids):
        problems.append(f"{len(stages)} staged docs, want {len(all_ids)}")
    missed = [d for d in manifest["exact_dup"]
              if stages.get(d) != "exact_dup"]
    if missed:
        problems.append(f"{len(missed)} exact copies not staged exact_dup")
    injected = list(manifest["exact_dup"]) + list(manifest["one_token_edit"])
    caught = sum(stages.get(d) in ("exact_dup", "near_dup") for d in injected)
    return caught / len(injected), problems
