"""Pure-Python/numpy rank oracle (no Spark).

Implements the frozen scoring semantics exactly once more, independently of
the Spark plans, for rank-identity testing (SURVEY.md §5.2 item 1 — the
mechanized version of the reference's manual target-rank inspection at
main.py:41-43). Tokenizes docs and queries with textnorm.analyze, the
engine's own kernel, so tokenization is identical by construction; the
scoring math here is straight-line numpy, while the engine's is distributed
column math — matching results validates both.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa

from ..functions.textnorm import Analyzer, analyze, normalize_tokenize
from ..queryexec.bm25 import B, K1


def oracle_tf(docs: dict[int, str], strategy: str = "code") -> dict[int, dict[str, int]]:
    toks = analyze(pa.array(list(docs.values()), pa.string()), Analyzer(strategy))
    return {
        d: Counter(t for t in ts if t) for d, ts in zip(docs, toks.to_pandas())
    }


def oracle_bm25_topk(
    docs: dict[int, str],
    query: str,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    strategy: str = "code",
) -> list[tuple[int, float]]:
    tf = oracle_tf(docs, strategy)
    n = len(docs)
    doc_len = {d: sum(c.values()) for d, c in tf.items()}
    avgdl = sum(doc_len.values()) / n if n else 0.0
    q_terms = sorted(set(normalize_tokenize(query, strategy)))
    df = {t: sum(1 for c in tf.values() if t in c) for t in q_terms}
    scores: dict[int, float] = {}
    for d, counts in tf.items():
        s = 0.0
        for t in q_terms:  # fixed term order ⇒ deterministic float sum
            f = counts.get(t, 0)
            if f == 0 or df[t] == 0:
                continue
            idf = float(np.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5)))
            s += idf * (f * (k1 + 1.0)) / (
                f + k1 * (1.0 - b + b * doc_len[d] / avgdl)
            )
        if s > 0.0:
            scores[d] = s
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]


def oracle_tfidf_cosine_topk(
    docs: dict[int, str], query: str, k: int = 10, strategy: str = "code"
) -> list[tuple[int, float]]:
    """sklearn-default TF-IDF + cosine (reference data_manager.py:122-126):
    w = tf·(ln((1+N)/(1+df))+1), L2 norm per doc; query weighted identically."""
    tf = oracle_tf(docs, strategy)
    n = len(docs)
    df: dict[str, int] = {}
    for counts in tf.values():
        for t in counts:
            df[t] = df.get(t, 0) + 1

    def idf(t: str) -> float:
        return float(np.log((1.0 + n) / (1.0 + df.get(t, 0))) + 1.0)

    q_counts = Counter(normalize_tokenize(query, strategy))
    qw = {t: c * idf(t) for t, c in q_counts.items()}
    qn = float(np.sqrt(sum(v * v for v in qw.values())))
    scores: dict[int, float] = {}
    for d, counts in tf.items():
        dw = {t: c * idf(t) for t, c in counts.items()}
        dn = float(np.sqrt(sum(v * v for v in dw.values())))
        s = sum(qw[t] * dw[t] for t in sorted(qw) if t in dw)
        if s > 0 and dn > 0 and qn > 0:
            scores[d] = s / (dn * qn)
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]
