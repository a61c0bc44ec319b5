"""Parity-mode build path (stem+stopwords — the reference-shaped pipeline,
data_manager.py:74-88): tokenize_tf's Arrow steps must equal the frozen
Python normalizer (clean_normalize, then the strategy's token class)
exactly on ASCII code, and its rows stay pinned."""

import hashlib
import re

import pytest

from information_retrieval_project_spark.corpus import generate_corpus, generate_pdf
from information_retrieval_project_spark.functions.textnorm import clean_normalize
from information_retrieval_project_spark.index.build import tokenize_tf, with_doc_id

# sha256 of the sorted (doc_id, term, tf) rows of parity-mode tokenize_tf
# over generate_corpus(spark, 200), as the per-row pandas pass over
# clean_normalize + re.findall computed them before the Arrow steps
PARITY_SHA256 = {
    "code": "35601879cd727ceef52fcbc41a02ced4001d4d1e6d0451397e1bcf99946f958f",
    "gensim": "6fb8ee62d1ef255224133a1cc17758ebb1684dc957a564872a46f0d855cdef17",
}


def test_parity_tokenize_matches_python(spark):
    corpus = generate_corpus(spark, 80, partitions=2)
    ids = with_doc_id(corpus)
    tf = tokenize_tf(ids, strategy="code", stem=True, stopwords=True)
    engine = {}
    for r in tf.collect():
        engine.setdefault(r["doc_id"], {})[r["term"]] = r["tf"]

    pdf = generate_pdf(80)
    key_to_id = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in ids.select("repo", "path", "commit", "doc_id").collect()
    }
    for row in pdf.itertuples(index=False):
        doc_id = key_to_id[(row.repo, row.path, row.commit)]
        want = {}
        text = clean_normalize(row.content, stem=True, stopwords=True)
        for t in re.findall(r"[a-z0-9_]+", text):
            want[t] = want.get(t, 0) + 1
        assert engine.get(doc_id, {}) == want, doc_id


def test_parity_mode_applies_stemming(spark):
    rows = [("r", "p", "c", "py", "running runs runner the and of")]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    tf = {r["term"]: r["tf"] for r in tokenize_tf(with_doc_id(corpus), stem=True, stopwords=True).collect()}
    assert "run" in tf  # running/runs stemmed
    assert "the" not in tf and "and" not in tf  # stopwords removed


@pytest.mark.parametrize("strategy", sorted(PARITY_SHA256))
def test_parity_mode_rows_are_pinned(spark, strategy):
    ids = with_doc_id(generate_corpus(spark, 200))
    tf = tokenize_tf(ids, strategy, stem=True, stopwords=True)
    rows = sorted((r["doc_id"], r["term"], r["tf"]) for r in tf.collect())
    text = "\n".join(f"{d}\t{t}\t{f}" for d, t, f in rows)
    assert hashlib.sha256(text.encode()).hexdigest() == PARITY_SHA256[strategy]
