"""Frozen text normalization + tokenization.

This module is the single source of truth for text semantics: the Spark
engine applies these functions inside vectorized Arrow/pandas UDFs and the
numpy oracle (oracle/oracle.py) calls the very same functions, so engine and
oracle are rank-identical by construction (SURVEY.md §7.0).

Reference semantics mirrored (see /root/reference/python):
- 13-symbol replacement + lowercase + stopword removal + punctuation strip +
  lemmatization: ``clean_normalize``, data_manager.py:74-88. The reference's
  lemma step (spaCy, applied via substring replace) is model-dependent and
  non-deterministic across environments, so we freeze a deterministic Porter
  stemmer in its place (documented decision, SURVEY.md §7.0).
- 4-way tokenizer strategy switch: tokenizers.py:8-45. Our strategies are
  deterministic regex variants; the default "code" strategy suits the
  source-code corpus of BASELINE.json input_hint.

Everything here is pure Python/regex with no external model downloads —
fully deterministic and checked into the repo.
"""

from __future__ import annotations

import re
import string

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

_TOKEN_PATTERNS = {
    # default for source code: identifiers/numbers on lowered text
    "code": re.compile(r"[a-z0-9_]+"),
    # mirrors keras text_to_word_sequence: split on whitespace after filtering
    "keras": re.compile(r"\S+"),
    # mirrors gensim.utils.tokenize: alphabetic runs only
    "gensim": re.compile(r"[a-z]+"),
    # approximates nltk word_tokenize on normalized text: word chars
    "nltk": re.compile(r"\w+"),
}


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
    """Tokenize lowered text with the chosen frozen strategy."""
    pat = _TOKEN_PATTERNS.get(strategy)
    if pat is None:
        raise ValueError(f"unknown tokenizer strategy: {strategy!r}")
    return pat.findall(text.lower())


def normalize_tokenize(
    text: str,
    strategy: str = "code",
    *,
    stem: bool = False,
    stopwords: bool = False,
) -> list[str]:
    """The engine's full text→tokens path.

    Default mode (no stem, no stopword removal) is pure regex tokenization of
    the lowered text — semantically identical to the native
    `split(lower(text), '[^a-z0-9_]+')` plan used in the SQL-checkable
    queries, and vectorizable batch-side. Parity mode (stem/stopwords) runs
    the reference-shaped clean_normalize first (data_manager.py:74-88)."""
    if not stem and not stopwords:
        return tokenize(text, strategy)
    return tokenize(clean_normalize(text, stem=stem, stopwords=stopwords), strategy)


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
