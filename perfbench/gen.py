"""Seeded workload inputs. Every generator takes a numpy Generator built
from the run's --seed, so one seed always gives the same inputs; the
program under test only ever sees what these functions return.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


# -- vectors -----------------------------------------------------------------

CENTER_STD = 1.5  # spread of the mixture's centers around the origin


@dataclass
class Mixture:
    """An isotropic Gaussian mixture: ``centers`` spread with std
    CENTER_STD around the origin, unit noise around each center."""

    centers: np.ndarray

    @classmethod
    def make(cls, rng: np.random.Generator, n_components: int, dim: int) -> "Mixture":
        centers = rng.normal(scale=CENTER_STD, size=(n_components, dim))
        return cls(centers.astype(np.float32))

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        comp = rng.integers(0, len(self.centers), n)
        noise = rng.normal(size=(n, self.centers.shape[1]))
        return (self.centers[comp] + noise).astype(np.float32)


def vectors_table(ids: np.ndarray, vecs: np.ndarray):
    """pyarrow table in the VectorTable input schema (id, vec, metadata);
    the metadata is a short JSON document naming the row."""
    import pyarrow as pa

    dim = vecs.shape[1]
    flat = pa.array(np.ascontiguousarray(vecs).ravel(), pa.float32())
    vec_col = pa.FixedSizeListArray.from_arrays(flat, dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "vec": vec_col,
        "metadata": pa.array([f'{{"n":{int(i)}}}' for i in ids], pa.string()),
    })


def metadata_bytes(ids) -> int:
    """User bytes of the metadata vectors_table writes for ``ids``."""
    return sum(len(f'{{"n":{int(i)}}}') for i in ids)


# -- documents ---------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
VOCAB_SIZE = 20_000  # distinct words documents are drawn from
DOC_LEN = (100, 140)  # tokens per generated document, both ends included
NEAR_EDITS = 1  # tokens a near duplicate substitutes


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase pseudo-words of 4-9 letters."""
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(4, 10))
        words.add("".join(rng.choice(_LETTERS, n)))
    return sorted(words)


@dataclass
class DocDrop:
    """One delivery of documents plus what the benchmark planted in it."""

    doc_ids: list[int]
    texts: list[str]
    unique_ids: list[int] = field(default_factory=list)
    exact_dup_ids: list[int] = field(default_factory=list)
    near_dup_ids: list[int] = field(default_factory=list)


class DocStream:
    """Documents of DOC_LEN random vocabulary tokens. Unique documents
    share no word 3-shingle with one another in practice (the vocabulary
    is large); an exact duplicate re-cases and re-spaces an earlier
    document (the fingerprint normalizes both away); a near duplicate
    substitutes NEAR_EDITS tokens of an earlier document, which keeps
    its word-shingle Jaccard well above the ingest's 0.5 threshold."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = vocabulary(rng, VOCAB_SIZE)
        self.next_id = 1
        self.ingested: list[str] = []  # unique texts a later drop may copy

    def _fresh(self) -> str:
        n = int(self.rng.integers(DOC_LEN[0], DOC_LEN[1] + 1))
        idx = self.rng.integers(0, len(self.vocab), n)
        return " ".join(self.vocab[i] for i in idx)

    def _exact_copy(self, text: str) -> str:
        toks = text.split(" ")
        return "  ".join(t.upper() if j % 3 == 0 else t for j, t in enumerate(toks))

    def _near_copy(self, text: str) -> str:
        toks = text.split(" ")
        for j in self.rng.choice(len(toks), NEAR_EDITS, replace=False):
            toks[int(j)] = self.vocab[int(self.rng.integers(0, len(self.vocab)))]
        return " ".join(toks)

    def base(self, n: int) -> DocDrop:
        """The starting corpus: ``n`` unique documents."""
        drop = DocDrop([], [])
        for _ in range(n):
            self._add(drop, self._fresh(), drop.unique_ids)
        self.ingested.extend(drop.texts)
        return drop

    def drop(self, n: int, exact_rate: float, near_rate: float) -> DocDrop:
        """``n`` documents: a share ``exact_rate`` exact and ``near_rate``
        near duplicates of documents ingested earlier or of this drop's
        own unique documents (always with a larger doc_id than their
        source, so keep-min-id keeps the source)."""
        n_exact = int(round(n * exact_rate))
        n_near = int(round(n * near_rate))
        n_unique = n - n_exact - n_near
        drop = DocDrop([], [])
        fresh = [self._fresh() for _ in range(n_unique)]
        for t in fresh:
            self._add(drop, t, drop.unique_ids)
        pool = self.ingested + fresh
        for _ in range(n_exact):
            src = pool[int(self.rng.integers(0, len(pool)))]
            self._add(drop, self._exact_copy(src), drop.exact_dup_ids)
        for _ in range(n_near):
            src = pool[int(self.rng.integers(0, len(pool)))]
            self._add(drop, self._near_copy(src), drop.near_dup_ids)
        self.ingested.extend(fresh)
        return drop

    def _add(self, drop: DocDrop, text: str, kind: list[int]) -> None:
        drop.doc_ids.append(self.next_id)
        drop.texts.append(text)
        kind.append(self.next_id)
        self.next_id += 1


def docs_table(drop: DocDrop):
    import pyarrow as pa

    return pa.table({
        "doc_id": pa.array(drop.doc_ids, pa.int64()),
        "text": pa.array(drop.texts, pa.string()),
    })
