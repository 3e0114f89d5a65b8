"""Seeded inputs. The engine only ever sees the DataFrames built from
these arrays; the same seed gives the same arrays."""

from __future__ import annotations

import numpy as np
import pandas as pd


class VectorSource:
    """Gaussian mixture in ``dim`` dimensions: ``n_centers`` standard
    normal centres, each point a centre plus ``sigma`` noise."""

    def __init__(self, rng: np.random.Generator, n_centers: int, dim: int,
                 sigma: float):
        self.rng = rng
        self.centers = rng.standard_normal((n_centers, dim))
        self.sigma = sigma

    def draw(self, n: int) -> np.ndarray:
        c = self.centers[self.rng.integers(0, len(self.centers), n)]
        noise = self.sigma * self.rng.standard_normal(c.shape)
        return (c + noise).astype(np.float32)


def vectors_frame(ids: np.ndarray, vecs: np.ndarray,
                  id_col: str = "id") -> pd.DataFrame:
    return pd.DataFrame({id_col: ids.astype(np.int64), "vec": list(vecs)})


class CorpusSource:
    """Zipf(``alpha``) documents over a ``vocab``-word vocabulary with
    ``min_len``..``max_len`` tokens. Each shard appends ``dup_frac``
    exact copies and ``edit_frac`` one-token edits of distinct originals,
    with higher ids than every original, and returns the injected ids."""

    def __init__(self, rng: np.random.Generator, vocab: int = 5000,
                 alpha: float = 1.3, min_len: int = 20, max_len: int = 120,
                 dup_frac: float = 0.1, edit_frac: float = 0.1):
        self.rng = rng
        p = 1.0 / np.arange(1, vocab + 1) ** alpha
        self.p = p / p.sum()
        self.vocab = vocab
        self.min_len, self.max_len = min_len, max_len
        self.dup_frac, self.edit_frac = dup_frac, edit_frac

    def _text(self, toks: np.ndarray) -> str:
        return " ".join(f"w{t}" for t in toks)

    def shard(self, n_docs: int, first_id: int):
        rng = self.rng
        lens = rng.integers(self.min_len, self.max_len + 1, n_docs)
        toks = [rng.choice(self.vocab, n, p=self.p) for n in lens]
        texts = [self._text(t) for t in toks]
        n_dup = int(n_docs * self.dup_frac)
        n_edit = int(n_docs * self.edit_frac)
        src = rng.choice(n_docs, n_dup + n_edit, replace=False)
        exact, edited = {}, {}
        for s in src[:n_dup]:
            exact[first_id + len(texts)] = first_id + int(s)
            texts.append(texts[s])
        for s in src[n_dup:]:
            t = toks[s].copy()
            j = rng.integers(len(t))
            t[j] = (t[j] + 1 + rng.integers(self.vocab - 1)) % self.vocab
            edited[first_id + len(texts)] = first_id + int(s)
            texts.append(self._text(t))
        ids = np.arange(first_id, first_id + len(texts), dtype=np.int64)
        frame = pd.DataFrame({"doc_id": ids, "text": texts})
        return frame, {"exact_dup": exact, "one_token_edit": edited}
