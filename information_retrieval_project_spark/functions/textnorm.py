"""Frozen text analysis: the one definition of how text becomes terms.

`analyze` is the package's only tokenizer: the index build runs it on
documents in its mapInArrow kernel (index/build._tokenize_arrow, tf and
positions alike), and queries and the numpy oracle run it on the driver
(`tokenize`, `normalize_tokenize`). The analyzer (strategy, stem,
stopwords) is committed in every snapshot's state.json and checked by every
store writer and reader (index/manifest.py).

Reference semantics mirrored (the reference repo's python sources):
- 13-symbol replacement + lowercase + stopword removal + punctuation strip +
  lemmatization: ``clean_normalize``, data_manager.py:74-88, which
  `analyze`'s parity mode runs as Arrow steps. The reference's lemma step
  (spaCy) is model-dependent, so we freeze a deterministic Porter stemmer
  in its place (documented decision, SURVEY.md §7.0).
- 4-way tokenizer strategy switch: tokenizers.py:8-45, as RE2 split
  patterns; the default "code" strategy suits the source-code corpus of
  BASELINE.json input_hint.
"""

from __future__ import annotations

import re
import string
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# The 13 symbols the reference replaces with spaces (data_manager.py:75-77).
REPLACED_SYMBOLS = [",", ".", ";", "(", ")", "?", "!", "&", "%", ":", "*", '"', "-"]

# Frozen English stopword list (snapshot checked into the repo; the reference
# used gensim's STOPWORDS at data_manager.py:80 — we freeze our own list so
# the normalizer is deterministic across environments, per FIXTURES.md §4).
STOPWORDS: frozenset[str] = frozenset(
    """a about above after again against all am an and any are as at be because
    been before being below between both but by can cannot could did do does
    doing down during each few for from further had has have having he her here
    hers herself him himself his how i if in into is it its itself just me more
    most my myself no nor not now of off on once only or other our ours
    ourselves out over own same she should so some such than that the their
    theirs them themselves then there these they this those through to too
    under until up very was we were what when where which while who whom why
    will with would you your yours yourself yourselves""".split()
)

_PUNCT = set(string.punctuation)

# RE2 split pattern per strategy, applied to lower-cased text: the tokens
# are the non-empty pieces between matches
_SPLIT_PATTERNS = {
    # identifiers/numbers == native split(lower(x), '[^a-z0-9_]+') == DuckDB
    "code": "[^a-z0-9_]+",
    # after gensim.utils.tokenize: alphabetic runs only
    "gensim": "[^a-z]+",
    # approximates nltk word_tokenize: ASCII word characters
    "nltk": "[^a-z0-9_]+",
    # after keras text_to_word_sequence: whitespace-separated chunks
    "keras": r"\s+",
}
# parity mode: the reference's symbols become spaces, words split on the
# whitespace of Python's str.split() (str.isspace: Arrow's
# utf8_split_whitespace misses a trailing multi-byte space such as NBSP),
# and the other ASCII punctuation but "_" is deleted from each word
_SYMBOLS_RE = "[" + "".join(re.escape(s) for s in REPLACED_SYMBOLS) + "]"
_SPACE_RE = r"[\t\n\v\f\r\x1c-\x1f\x85\p{Z}]+"
_PUNCT_RE = "[" + re.escape(string.punctuation.replace("_", "")) + "]"
_STOPWORD_SET = pa.array(sorted(STOPWORDS), pa.string())


class Analyzer(NamedTuple):
    """A strategy (a key of _SPLIT_PATTERNS) and the reference's optional
    stemming and stopword removal (parity mode)."""

    strategy: str = "code"
    stem: bool = False
    stopwords: bool = False


def analyze(texts: pa.Array, analyzer: Analyzer = Analyzer()) -> pa.ListArray:
    """texts → one list of terms per text, in text order; a null text has
    none. A list may hold empty strings where a separator starts or ends
    the text: callers drop them in the flatten they run anyway, so the
    default analyzer is two kernels (utf8_lower, split_pattern_regex).

    Parity mode (stem and/or stopwords) runs clean_normalize's steps in its
    order, as Arrow kernels: the 13 symbols become spaces, lower-case,
    split on whitespace and drop stopwords, delete punctuation but "_",
    Porter-stem once per distinct word of the batch, then split each word
    with the strategy's pattern."""
    pat = _SPLIT_PATTERNS.get(analyzer.strategy)
    if pat is None:
        raise ValueError(f"unknown tokenizer strategy: {analyzer.strategy!r}")
    if not analyzer.stem and not analyzer.stopwords:
        return pc.split_pattern_regex(pc.utf8_lower(texts), pat)
    words = pc.split_pattern_regex(
        pc.utf8_lower(pc.replace_substring_regex(texts, _SYMBOLS_RE, " ")),
        _SPACE_RE,
    )
    flat, parents = pc.list_flatten(words), pc.list_parent_indices(words)
    if analyzer.stopwords:
        keep = pc.invert(pc.is_in(flat, _STOPWORD_SET))
        flat, parents = flat.filter(keep), parents.filter(keep)
    flat = pc.replace_substring_regex(flat, _PUNCT_RE, "")
    if analyzer.stem:
        uniq = pc.unique(flat)
        stems = pa.array([porter_stem(w) for w in uniq.to_pylist()], flat.type)
        flat = stems.take(pc.index_in(flat, uniq))
    pieces = pc.split_pattern_regex(flat, pat)
    parents = parents.take(pc.list_parent_indices(pieces)).to_numpy()
    offsets = np.zeros(len(texts) + 1, np.int32)
    np.cumsum(np.bincount(parents, minlength=len(texts)), out=offsets[1:])
    return pa.ListArray.from_arrays(offsets, pc.list_flatten(pieces))


def clean_normalize(text: str, *, stem: bool = False, stopwords: bool = True) -> str:
    """Normalize one string following the reference pipeline shape.

    Steps (reference clean_normalize, data_manager.py:74-88): symbol→space
    replace, lowercase, stopword removal (whitespace split/rejoin), strip
    remaining punctuation chars, optional deterministic stem per token.
    """
    for symbol in REPLACED_SYMBOLS:
        text = text.replace(symbol, " ")
    text = text.lower()
    if stopwords:
        text = " ".join(w for w in text.split() if w not in STOPWORDS)
    text = "".join(ch for ch in text if ch not in _PUNCT or ch == "_")
    if stem:
        text = " ".join(porter_stem(w) for w in text.split())
    return text


def tokenize(text: str, strategy: str = "code") -> list[str]:
    """The terms of one text under a strategy, without stem or stopwords."""
    return normalize_tokenize(text, strategy)


def normalize_tokenize(
    text: str,
    strategy: str = "code",
    *,
    stem: bool = False,
    stopwords: bool = False,
) -> list[str]:
    """The terms of one text under the analyzer (strategy, stem, stopwords):
    `analyze` of a one-text array, the driver-side path of queries. The
    default is `split(lower(text), '[^a-z0-9_]+')` minus empty strings."""
    terms = analyze(pa.array([text], pa.string()), Analyzer(strategy, stem, stopwords))
    return [t for t in terms[0].as_py() if t]


# ---------------------------------------------------------------------------
# Porter stemmer (classic 1980 algorithm, public description) — deterministic
# stand-in for the reference's lemmatizer per SURVEY.md §7.0.
# ---------------------------------------------------------------------------

_VOWELS = "aeiou"


def _is_cons(word: str, i: int) -> bool:
    ch = word[i]
    if ch in _VOWELS:
        return False
    if ch == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Number of VC sequences in the [C](VC)^m[V] decomposition."""
    forms = "".join("c" if _is_cons(stem, i) else "v" for i in range(len(stem)))
    return len(re.findall("vc", forms))


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    if not (
        _is_cons(word, len(word) - 3)
        and not _is_cons(word, len(word) - 2)
        and _is_cons(word, len(word) - 1)
    ):
        return False
    return word[-1] not in "wxy"


_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
]

_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]

_STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement", "ment",
    "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def porter_stem(word: str) -> str:
    """Classic Porter stemmer; deterministic, no external data."""
    if len(word) <= 2 or not word.isalpha():
        return word
    w = word

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # Step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif (w.endswith("ed") and _has_vowel(w[:-2])) or (
        w.endswith("ing") and _has_vowel(w[:-3])
    ):
        w = w[:-2] if w.endswith("ed") else w[:-3]
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _ends_double_cons(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif _measure(w) == 1 and _cvc(w):
            w += "e"

    # Step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # Step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break

    # Step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break

    # Step 4
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if suf == "ion" and not stem.endswith(("s", "t")):
                continue
            if _measure(stem) > 1:
                w = stem
            break
    else:
        if w.endswith("ion") and len(w) > 3 and w[-4] in "st":
            stem = w[:-3]
            if _measure(stem) > 1:
                w = stem

    # Step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem

    # Step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]

    return w
