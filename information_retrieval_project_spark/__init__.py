"""PySpark-native inverted-index + BM25 full-text engine.

A from-scratch re-expression of the capabilities of
flavioforenza/Information-Retrieval-project (reference at /root/reference,
surveyed in SURVEY.md) on idiomatic PySpark: DataFrame/SQL plans optimized by
Catalyst, vectorized Arrow/pandas UDFs for the few genuinely custom operators
(tokenize, posting-list encode and decode), and explicit partitioning/skew handling
for web-scale corpora.

Layout
------
- ``functions/``  frozen text normalization + tokenization (engine & oracle
  share the same pure-Python code → rank-identity by construction) and
  native-column helpers.
- ``index/``      inverted-index build: tf/df aggregation, one postings
  shuffle (hot terms salted only in the segmented layout), delta+varbyte
  posting codec, stats tables, lineage manifest.
- ``queryexec/``  BM25 (one scorer, ``bm25.py``) / TF-IDF-cosine /
  query-likelihood scoring, compressed and sharded index serving,
  deterministic top-k.
- ``oracle/``     pure numpy/pandas reference scorer used by pytest for
  rank-identity checks (mirrors the reference semantics per SURVEY.md §7.0).
- ``lm/``         skip-gram language models, Laplace / Jelinek-Mercer
  smoothing, perplexity, PPMI (reference data_manager.py:392-655 parity).
- ``evalmetrics/``precision/recall/interpolated-P/average-precision windows
  (reference data_manager.py:231-259 parity).
- ``dedup/``      exact, MinHash-LSH, SimHash, n-gram-Jaccard dedup.
- ``similarity/`` embedding cosine top-k (brute force + LSH-bucketed).
- ``textstats/``  language-ID heuristic, quality scoring, token counting,
  fingerprinting.
- ``corpus.py``   deterministic synthetic source-code corpus per
  BASELINE.json input_hint (repo,path,commit,lang,content).
- ``zipguard.py`` installed on import: a Python worker re-reads a zip on
  its sys.path only when the zip changed (Python < 3.12 re-parsed every
  archive on every task).
"""

from . import zipguard

zipguard.install()

__version__ = "0.1.0"
