"""Frozen normalizer/tokenizer semantics (SURVEY.md F1/F2, §7.0)."""

import random
from collections import Counter

import pytest

from information_retrieval_project_spark.functions.textnorm import (
    STOPWORDS,
    clean_normalize,
    normalize_tokenize,
    porter_stem,
    tokenize,
)
from information_retrieval_project_spark.index.build import tokenize_tf, with_doc_id


def test_symbol_replacement_and_lower():
    # the 13 reference symbols (data_manager.py:75-77) become spaces
    out = clean_normalize("A,B.C;(D)?E!F&G%H:I*J\"K-L", stopwords=False)
    # without the stopword split/rejoin the reference keeps raw spacing too
    assert out.split() == list("abcdefghijkl")


def test_stopword_removal():
    out = clean_normalize("the quick brown fox is a fox", stopwords=True)
    assert "the" not in out.split() and "is" not in out.split()
    assert "quick" in out.split()


def test_punctuation_strip_keeps_underscore():
    assert clean_normalize("foo_bar(baz)#@!", stopwords=False).split() == [
        "foo_bar",
        "baz",
    ]


def test_tokenize_strategies():
    text = "Def parse_config(x1): return x1 + 2"
    assert "parse_config" in tokenize(text, "code")
    assert "x1" in tokenize(text, "code")
    assert "parse_config" not in tokenize(text, "gensim")  # alpha runs only
    assert tokenize(text, "keras")  # whitespace chunks


def test_porter_known_pairs():
    # classic published examples of the Porter algorithm
    cases = {
        "caresses": "caress",
        "ponies": "poni",
        "cats": "cat",
        "feed": "feed",
        "agreed": "agre",
        "plastered": "plaster",
        "motoring": "motor",
        "conflated": "conflat",
        "happy": "happi",
        "relational": "relat",
        "rational": "ration",
        "hopeful": "hope",
        "goodness": "good",
        "adjustable": "adjust",
        "probate": "probat",
        "cease": "ceas",
        "controll": "control",
    }
    for w, s in cases.items():
        assert porter_stem(w) == s, (w, porter_stem(w), s)


def test_normalize_tokenize_deterministic():
    t = "Import numpy; def handle_request(req): RETURN req.Value"
    a = normalize_tokenize(t)
    assert a == normalize_tokenize(t)
    assert a[0] == "import"


def test_stopwords_frozen_size():
    assert len(STOPWORDS) > 80  # frozen list is non-trivial and checked in


_WORDS = [
    "İstanbul", "STRASSE", "straße", "café", "cafe\u0301", "naïve", "Ωmega",
    "x_1", "__init__", "42", "Def", "return", "the", "and", "running",
    "runs", "a-b", "it's", "foo.bar", "q\u0307",
]
_SEPS = [" ", "  ", "\u00a0", "\x0b", "\t", "\n", ",", "(", "#", "\u3000", ""]


def _random_texts(n: int, seed: int = 13) -> list[str]:
    """Seeded Unicode text: dotted capital I, sharp s, precomposed and
    combining accents, NBSP, vertical tab, ideographic space, "_" and
    digits, between ASCII code words and stopwords."""
    rng = random.Random(seed)

    def word() -> str:
        if rng.random() < 0.2:
            n = rng.randint(1, 6)
            return "".join(rng.choice("aZé\u0301\u0307_9İß") for _ in range(n))
        return rng.choice(_WORDS)

    return [
        "".join(word() + rng.choice(_SEPS) for _ in range(rng.randint(0, 12)))
        for _ in range(n)
    ]


@pytest.mark.parametrize("parity", [False, True], ids=["plain", "stem+stopwords"])
@pytest.mark.parametrize("strategy", ["code", "gensim", "nltk", "keras"])
def test_query_tokens_are_the_indexed_terms(spark, strategy, parity):
    """One analyzer: a doc's text tokenized as a query has exactly the
    terms, with the same counts, that tokenize_tf indexes for that doc."""
    texts = _random_texts(40)
    corpus = spark.createDataFrame(
        [("r", f"p{i}", "c", t) for i, t in enumerate(texts)],
        "repo string, path string, commit string, content string",
    )
    ids = with_doc_id(corpus)
    doc_of = {r["doc_id"]: int(r["path"][1:]) for r in ids.collect()}
    indexed = [Counter() for _ in texts]
    for r in tokenize_tf(ids, strategy, stem=parity, stopwords=parity).collect():
        indexed[doc_of[r["doc_id"]]][r["term"]] = r["tf"]
    for text, got in zip(texts, indexed):
        if parity:
            want = normalize_tokenize(text, strategy, stem=True, stopwords=True)
        else:
            want = tokenize(text, strategy)
        assert Counter(want) == got, repr(text)
