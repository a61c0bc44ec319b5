"""Seeded input generator for the benchmark, independent of the package.

Produces input_hint rows ``(repo, path, commit, lang, content)`` with
heavy-tailed file lengths (log-normal token counts), a Zipf head of hot
terms (code keywords every file uses) and a long tail of rare identifiers.
Each row keeps the exact lower-case token list its content was made from, so
the reference scorer never has to tokenize the text it checks.

Every random stream is derived from ``(seed, stream)``; the same seed gives
byte-identical rows, queries and delta batches.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the Zipf head: terms nearly every source file contains
HOT_WORDS = (
    "def return self import from if else for in the int str none true false "
    "class while try except with as not and or is print len range value data "
    "name path config error result args list dict type new"
).split()
N_HOT = 20  # ranks [0, N_HOT) are "hot" for query sampling
MAX_TERMS = 4  # query i has 1 + i % MAX_TERMS terms
_SYLLABLES = (
    "get set parse load save read write user file node tree item key map "
    "buf sock http json cache index query token hash sort scan merge block "
    "stream batch page row col table frame task job pool lock"
).split()
_LANGS = {"py": "python", "java": "java", "go": "go", "js": "javascript", "rs": "rust"}
# separators contain no [a-z0-9_], so the code tokenizer splits exactly here
_SEPS = np.array([" ", " ", " ", "\n", "(", ")", ".", ", ", ": ", " = ", "\n    "])
_NORMAL = NormalDist()
SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
    ]
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


@dataclass(frozen=True)
class Vocab:
    terms: np.ndarray  # rank order, rank 0 most frequent
    cdf: np.ndarray  # Zipf cumulative distribution over ranks

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return np.searchsorted(self.cdf, rng.random(n), side="right")


def make_vocab(size: int = 20_000, zipf_s: float = 1.05) -> Vocab:
    """The term vocabulary in Zipf rank order. It is the same for every seed,
    so runs on different seeds differ in documents and queries, not in the
    shape of the term distribution."""
    rng = _rng(0, 1)
    terms = list(HOT_WORDS)
    seen = set(terms)
    while len(terms) < size:
        parts = rng.choice(_SYLLABLES, size=rng.integers(1, 4))
        t = "_".join(parts)
        if rng.random() < 0.4:
            t += str(int(rng.integers(0, 100)))
        if t not in seen:
            seen.add(t)
            terms.append(t)
    w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** zipf_s
    cdf = np.cumsum(w / w.sum())
    cdf[-1] = 1.0
    return Vocab(np.array(terms, dtype=object), cdf)


_FIELDS = ("repo", "path", "commit", "lang", "content", "tokens")


@dataclass
class Batch:
    """Generated docs, columnar. ``tokens[i]`` is doc i's lower-case token
    list; ``content[i]`` renders it with separators and some capitals."""

    repo: list[str] = field(default_factory=list)
    path: list[str] = field(default_factory=list)
    commit: list[str] = field(default_factory=list)
    lang: list[str] = field(default_factory=list)
    content: list[str] = field(default_factory=list)
    tokens: list[list[str]] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.path)

    def content_bytes(self) -> int:
        return sum(len(c.encode()) for c in self.content)

    def table(self) -> pa.Table:
        return pa.table(
            [self.repo, self.path, self.commit, self.lang, self.content],
            schema=SCHEMA,
        )

    def head(self, n: int) -> "Batch":
        return Batch(*(getattr(self, name)[:n] for name in _FIELDS))


def make_docs(
    seed: int,
    stream: int,
    n_docs: int,
    vocab: Vocab,
    median_tokens: int = 120,
    rare_share: float = 0.05,
) -> Batch:
    """n_docs files from random stream ``stream`` of ``seed``. Distinct
    streams give disjoint (repo, path, commit) keys."""
    rng = _rng(seed, 1000 + stream)
    # log-normal lengths taken at evenly spaced quantiles, in seeded order:
    # every seed gets the same heavy-tailed set of lengths, so the size of a
    # workload's input does not depend on its seed
    z = np.array([_NORMAL.inv_cdf((i + 0.5) / n_docs) for i in range(n_docs)])
    lens = np.clip(np.exp(np.log(median_tokens) + z).astype(np.int64), 3, 4000)
    rng.shuffle(lens)
    exts = list(_LANGS)
    out = Batch()
    for i in range(n_docs):
        n = int(lens[i])
        toks = vocab.terms[vocab.sample(rng, n)]
        rare = rng.random(n) < rare_share
        if rare.any():
            toks = toks.copy()
            toks[rare] = [f"x{v:08x}" for v in rng.integers(0, 1 << 32, int(rare.sum()))]
        toks = toks.tolist()
        shown = list(toks)
        for j in np.flatnonzero(rng.random(n) < 0.1):
            shown[j] = shown[j].capitalize()
        seps = _SEPS[rng.integers(0, len(_SEPS), n)]
        ext = exts[int(rng.integers(0, len(exts)))]
        out.repo.append(f"org{stream}/proj{int(rng.integers(0, 40))}")
        out.path.append(f"src/s{stream}/m{i % 97}/f{i}.{ext}")
        out.commit.append(rng.bytes(20).hex())
        out.lang.append(_LANGS[ext])
        out.content.append("".join(t + s for t, s in zip(shown, seps)))
        out.tokens.append(toks)
    return out


def make_queries(
    seed: int, stream: int, n: int, vocab: Vocab, hot_share: float = 0.3
) -> list[list[str]]:
    """n queries of 1-4 distinct terms. Query i has 1 + i % MAX_TERMS terms and
    leads with a hot term (rank < N_HOT) when i % 10 < 10 * hot_share, so
    every seed runs the same mix of query shapes; every other term is
    Zipf-sampled from ranks past the head."""
    rng = _rng(seed, 2000 + stream)
    out = []
    for i in range(n):
        n_terms = 1 + i % MAX_TERMS
        terms: list[str] = []
        if i % 10 < 10 * hot_share:
            terms.append(str(vocab.terms[int(rng.integers(0, N_HOT))]))
        while len(terms) < n_terms:
            r = int(vocab.sample(rng, 1)[0])
            t = str(vocab.terms[r])
            if r >= N_HOT and t not in terms:
                terms.append(t)
        out.append(terms)
    return out


def write_parquet(batch: Batch, path: str) -> None:
    pq.write_table(batch.table(), path)


def write_files(batch: Batch, out_dir: str, n_files: int) -> None:
    """The batch as ``n_files`` parquet files, so Spark scans it in parallel."""
    os.makedirs(out_dir, exist_ok=True)
    table = batch.table()
    bounds = np.linspace(0, len(batch), n_files + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:04d}.parquet"))


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()
