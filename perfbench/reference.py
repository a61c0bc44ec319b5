"""Reference BM25 scorer over the generator's own token lists (numpy only).

Frozen semantics: k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
distinct query terms, ranking (score DESC, doc_id ASC). A timed result is
correct when it has the reference's length, every position's score is within
``TOL`` of the reference score at that position (so ties within ``TOL`` may
swap), every returned doc's own reference score is within ``TOL`` of the
score the engine gave it, and no doc repeats.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

K1 = 1.2
B = 0.75
TOL = 1e-9


class Reference:
    def __init__(self) -> None:
        self._index: dict[int, int] = {}  # doc_id -> row
        self._doc_ids: list[int] = []
        self._doc_len: list[int] = []
        self._post: dict[str, tuple[list[int], list[int]]] = {}
        self._frozen: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def add(self, doc_ids, tokens: list[list[str]]) -> None:
        for doc_id, toks in zip(doc_ids, tokens):
            doc_id = int(doc_id)
            if doc_id in self._index:
                raise ValueError(f"doc_id {doc_id} added twice")
            row = len(self._doc_ids)
            self._index[doc_id] = row
            self._doc_ids.append(doc_id)
            self._doc_len.append(len(toks))
            for term, tf in Counter(toks).items():
                rows, tfs = self._post.setdefault(term, ([], []))
                rows.append(row)
                tfs.append(tf)
        self._frozen.clear()

    @property
    def n_docs(self) -> int:
        return len(self._doc_ids)

    @property
    def total_terms(self) -> int:
        return int(sum(self._doc_len))

    @property
    def n_terms(self) -> int:
        return len(self._post)

    def terms(self) -> list[str]:
        return sorted(self._post)

    def df(self, term: str) -> int:
        return len(self._post.get(term, ((), ()))[0])

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids sorted ascending, tfs) — the stored form of one list."""
        rows, tfs = self._post.get(term, ([], []))
        d = np.asarray(self._doc_ids, dtype=np.int64)[np.asarray(rows, dtype=np.int64)]
        t = np.asarray(tfs, dtype=np.int64)
        order = np.argsort(d, kind="stable")
        return d[order], t[order]

    def _rows(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        got = self._frozen.get(term)
        if got is None:
            rows, tfs = self._post.get(term, ([], []))
            got = (np.asarray(rows, dtype=np.int64), np.asarray(tfs, dtype=np.float64))
            self._frozen[term] = got
        return got

    def scores(self, terms: list[str]) -> dict[int, float]:
        """doc_id -> BM25 score for every doc matching at least one term."""
        n = self.n_docs
        dl = np.asarray(self._doc_len, dtype=np.float64)
        avgdl = dl.sum() / n
        acc = np.zeros(n, dtype=np.float64)
        hit = np.zeros(n, dtype=bool)
        for term in sorted(set(terms)):
            rows, tf = self._rows(term)
            if rows.size == 0:
                continue
            df = rows.size
            idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
            acc[rows] += idf * (tf * (K1 + 1.0)) / (
                tf + K1 * (1.0 - B + B * dl[rows] / avgdl)
            )
            hit[rows] = True
        ids = np.asarray(self._doc_ids, dtype=np.int64)
        return {int(d): float(s) for d, s in zip(ids[hit], acc[hit])}


def topk_matches(
    got: list[tuple[int, float]], scores: dict[int, float], k: int
) -> bool:
    """True when ``got`` (engine rows in rank order) equals the reference
    top-k of ``scores`` up to swaps among ties within TOL."""
    want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    if len(got) != len(want):
        return False
    if len({d for d, _ in got}) != len(got):
        return False
    for (doc, score), (_, want_score) in zip(got, want):
        true = scores.get(int(doc))
        if true is None or abs(true - score) > TOL or abs(score - want_score) > TOL:
            return False
    return True
