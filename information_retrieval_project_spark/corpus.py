"""Deterministic synthetic source-code corpus per BASELINE.json input_hint.

Schema: (repo:string, path:string, commit:string, lang:string, content:string)
— one row per source file. Content tokens are drawn from a Zipf(s=1.2)
distribution over a code-like vocabulary so hot/skewed terms exist (FIXTURES.md
§1); the Zipf head exercises long posting lists (salted in the segmented
layout) exactly like `the`/`def`/`import` would in a real 10^12-file code
corpus.

Generation is pure numpy (seed fixed), generated driver-side and
parallelized for larger scales, no external data.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

LANGS = ["python", "java", "go", "js", "c"]
_EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "c": "c"}

_KEYWORDS = [
    "def", "return", "import", "class", "self", "if", "else", "for", "while",
    "func", "var", "const", "let", "public", "static", "void", "int", "string",
    "float", "bool", "true", "false", "none", "null", "new", "try", "except",
    "catch", "raise", "throw", "print", "len", "range", "map", "filter",
]


def _vocab(size: int = 5000) -> list[str]:
    verbs = ["parse", "handle", "get", "set", "build", "merge", "read", "write",
             "load", "dump", "init", "close", "open", "run", "exec", "check"]
    nouns = ["config", "request", "response", "index", "query", "doc", "token",
             "buffer", "stream", "batch", "row", "col", "node", "edge", "cache"]
    vocab = list(_KEYWORDS)
    i = 0
    while len(vocab) < size:
        v = verbs[i % len(verbs)]
        n = nouns[(i // len(verbs)) % len(nouns)]
        vocab.append(f"{v}_{n}_{i}")
        i += 1
    return vocab[:size]


VOCAB = _vocab()


_ZIPF_RANKS = np.arange(1, len(VOCAB) + 1, dtype=np.float64)
_ZIPF_PROBS = _ZIPF_RANKS ** -1.2
_ZIPF_PROBS /= _ZIPF_PROBS.sum()
_VOCAB_ARR = np.array(VOCAB)


def generate_pdf(n_docs: int, seed: int = 42, start: int = 0) -> pd.DataFrame:
    """Generate rows [start, start+n_docs) of the corpus as pandas.

    Each row is seeded by its global index, so chunked/distributed generation
    produces byte-identical rows to a single full-range call (the oracle and
    the Spark build must see the same corpus)."""
    idx = np.arange(start, start + n_docs)
    lang, contents = [], []
    for i in idx:
        rng = np.random.default_rng((seed, int(i)))
        lang.append(LANGS[int(rng.integers(0, len(LANGS)))])
        L = int(rng.integers(30, 301))
        toks = _VOCAB_ARR[rng.choice(len(VOCAB), size=L, p=_ZIPF_PROBS)]
        # line structure: ~8 tokens per line
        lines = [" ".join(toks[j : j + 8]) for j in range(0, len(toks), 8)]
        contents.append("\n".join(lines))
    return pd.DataFrame(
        {
            "repo": [f"org{i % 7}/repo{i % 97}" for i in idx],
            "path": [f"src/pkg{i % 13}/mod{i}.{_EXT[l]}" for i, l in zip(idx, lang)],
            "commit": [hashlib.sha1(f"c{i}".encode()).hexdigest() for i in idx],
            "lang": lang,
            "content": contents,
        }
    )


def generate_corpus(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic generation: each partition generates its own
    row range with a range-derived seed (no driver materialization — scales
    to any n_docs)."""
    partitions = partitions or max(1, n_docs // 2000)
    chunk = (n_docs + partitions - 1) // partitions
    ranges = [(p * chunk, min((p + 1) * chunk, n_docs)) for p in range(partitions)]
    ranges = [r for r in ranges if r[1] > r[0]]
    sc = spark.sparkContext
    schema = "repo string, path string, commit string, lang string, content string"

    def gen(split: tuple[int, int]):
        lo, hi = split
        pdf = generate_pdf(hi - lo, seed=seed, start=lo)
        return list(pdf.itertuples(index=False, name=None))

    rdd = sc.parallelize(ranges, len(ranges)).flatMap(gen)
    return spark.createDataFrame(rdd, schema=schema)
