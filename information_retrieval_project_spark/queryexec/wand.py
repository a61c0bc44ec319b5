"""The compressed-index query path: posting decode and served top-k.

The index rows for the (few) query terms are filtered with partition
pruning on term_bucket, decoded exhaustively by one Arrow-batch UDF (the
plan's only Python operator), then scored by queryexec/bm25.score_rows:
doc_stats join, codegen BM25 sum, top-k, all native after the decode.

Block-max candidate generation (blockmax_prune_info, decode_candidates with
`prune=`) is a measured diagnostic, not a serve path: its per-block upper
bounds (Ding & Suel 2011) are the only other place the BM25 idf appears.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.codec import BLOCK, decode_postings
from .bm25 import B, K1, query_pairs_df, score_rows, topk, topk_per_query


def bm25_idf(n_docs: int, df: int) -> float:
    """BM25 idf as a Python float, for the block-max upper bounds only;
    scores come from bm25.bm25_contrib."""
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _decode(index_rows: DataFrame, keep_blocks=None) -> DataFrame:
    """index(term, df, postings, bm_tfs, ...) -> (term, doc_id, tf, df) via
    Arrow batches: this module's one posting decoder. df is the stored
    TERM-TOTAL, repeated per row, so downstream scoring computes idf inline
    without a distinct+broadcast subtree.

    keep_blocks(term, df, block_max_tfs) -> bool mask over the row's blocks,
    applied before emission; None emits every posting."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..index.codec import varbyte_decode

        for pdf in batches:
            terms, docs, tfs, dfs = [], [], [], []
            for term, df_, buf, bmt_buf in zip(
                pdf["term"].values,
                pdf["df"].values,
                pdf["postings"].values,
                pdf["bm_tfs"].values,
            ):
                d, t = decode_postings(bytes(buf))
                if d.size and keep_blocks is not None:
                    keep = keep_blocks(term, int(df_), varbyte_decode(bytes(bmt_buf)))
                    if not keep.all():
                        mask = np.repeat(keep, BLOCK)[: d.size]
                        d, t = d[mask], t[mask]
                if d.size == 0:
                    continue
                terms.append(np.full(d.size, term, dtype=object))
                docs.append(d)
                tfs.append(t)
                dfs.append(np.full(d.size, int(df_), dtype=np.int64))
            if terms:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(terms),
                        "doc_id": np.concatenate(docs),
                        "tf": np.concatenate(tfs),
                        "df": np.concatenate(dfs),
                    }
                )

    return index_rows.select("term", "df", "postings", "bm_tfs").mapInPandas(
        gen, "term string, doc_id long, tf long, df long"
    )


def decode_top_blocks(index_rows: DataFrame, n_blocks: int) -> DataFrame:
    """Sample for blockmax_prune_info: per index row (term, segment), decode
    and emit ONLY the n_blocks blocks with the highest block-max tf (the tf
    component is monotone in tf, so these are the highest-upper-bound
    blocks). Bounded output — n_blocks * BLOCK rows per index row —
    regardless of posting-list length."""

    def keep(term, df, bmt):
        sel = np.zeros(bmt.size, dtype=bool)
        sel[np.argsort(bmt)[-n_blocks:]] = True
        return sel

    return _decode(index_rows, keep)


def blockmax_prune_info(
    index_rows: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int,
    k1: float = K1,
    b: float = B,
    round_scores: int | None = None,
) -> dict | None:
    """Block-max candidate generation (a diagnostic; not on the serve path):
    certify a LOWER bound theta on the true k-th BM25 score by exactly
    scoring a tiny, bounded sample — the few highest-block-max blocks of
    each query term (decode_top_blocks). A sampled doc's sampled score sums
    a SUBSET of its true per-term contributions, so sampled <= true; the
    k-th best sampled score over >= k distinct docs therefore certifies
    >= k docs with true score >= theta, i.e. k-th true >= theta.

    decode_candidates(prune=) then turns theta into a block mask (both
    rules are individually sound for CANDIDATE-SET semantics — a doc is
    provably below theta only if every one of its blocks is masked):
      1. pigeonhole: a doc scoring >= theta-margin has >= (theta-margin)/|Q|
         from at least one of its |Q| query terms, so a block whose upper
         bound ub_j < (theta-margin)/|Q| cannot host that term for any
         such doc;
      2. total bound: ub_j(t) + sum over t' != t of UB_global(t') <
         theta-margin means no doc in the block reaches theta-margin at
         all.
    Upper bounds use the dl_min normalizer (global min doc_len — tf
    component is decreasing in doc_len). margin adds one rounding unit when
    ranking on round(score, round_scores).

    The distributed serve does not use this: complete scores need the full
    decode, so membership pruning cannot beat one exhaustive decode in this
    row-parallel form (OPTIMIZATION_r06.md §5). It stays as the measurable
    candidate-set reducer (the >2x decoded-row reduction is pinned by
    test_blockmax_candidate_generation_prunes_stopword_postings). Costs two
    driver actions. Returns None when the sample certifies fewer than k
    docs — tiny collections, where exhaustive decode is already cheap."""
    # per-term (df, max max_tf) × global dl_min — ONE fused collect (the
    # dl bound repeats on each of the few term rows; that's free)
    meta = (
        index_rows.groupBy("term")
        .agg(F.first("df").alias("df"), F.max("max_tf").alias("mt"))
        .crossJoin(
            F.broadcast(doc_stats_df.agg(F.min("doc_len").alias("mn")))
        )
        .collect()
    )
    if not meta or meta[0]["mn"] is None:
        return None
    dl_min = float(meta[0]["mn"])

    nb = max(1, -(-2 * k // BLOCK) + 1)  # ceil(2k/BLOCK)+1 blocks per row
    sample = decode_top_blocks(index_rows, nb)
    top = (
        score_rows(sample, doc_stats_df, n_docs, avgdl, k1, b)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    if len(top) < k:
        return None
    theta = float(top[-1]["score"])

    ub_global = {}
    for r in meta:
        mt = float(r["mt"])
        ub_global[r["term"]] = (
            bm25_idf(n_docs, int(r["df"]))
            * (mt * (k1 + 1.0))
            / (mt + k1 * (1.0 - b + b * dl_min / avgdl))
        )
    margin = 1e-9 + (
        10.0 ** (-round_scores) if round_scores is not None else 0.0
    )
    return {
        "theta": float(theta),
        "margin": float(margin),
        "k1": float(k1),
        "b": float(b),
        "dl_min": dl_min,
        "avgdl": float(avgdl),
        "ub_global": ub_global,
    }


def decode_candidates(
    index_rows: DataFrame, prune: dict | None = None, n_docs: int | None = None
) -> DataFrame:
    """index(term, df, postings, ...) -> (term, doc_id, tf, df) via Arrow
    batches — the serve path's single decode.

    prune (from blockmax_prune_info; requires n_docs for the local term's
    idf): emit only blocks that can still matter for the top-k — the
    candidate-generation pass (see blockmax_prune_info for the soundness
    argument). A doc whose blocks are all dropped scores below the top-k;
    the surviving rows are NOT complete scores."""
    if prune is None:
        return _decode(index_rows)
    if n_docs is None:
        raise ValueError("decode_candidates pruning requires n_docs for idf")
    k1, b = prune["k1"], prune["b"]
    cutoff = prune["theta"] - prune["margin"]
    norm = 1.0 - b + b * prune["dl_min"] / prune["avgdl"]
    ub_global = prune["ub_global"]
    ub_sum_all = sum(ub_global.values())
    n_terms = max(1, len(ub_global))

    def keep(term, df, bmt):
        # sum of the OTHER query terms' global upper bounds; the local
        # term's bound is per-block and tighter
        rest = ub_sum_all - ub_global.get(term, 0.0)
        bmt = bmt.astype(np.float64)
        ub = bm25_idf(n_docs, df) * (bmt * (k1 + 1.0)) / (bmt + k1 * norm)
        return (ub >= cutoff / n_terms) & (ub + rest >= cutoff)

    return _decode(index_rows, keep)


def bm25_scores_compressed(
    spark: SparkSession,
    index_df: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    query_tokens: list[str],
    k1: float = K1,
    b: float = B,
    term_buckets: int = 32,
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-candidate-doc BM25 scores (doc_id, score — UNROUNDED) from the
    compressed index: prune to query terms (term + term_bucket predicate
    pushdown, folded to literals — no job), ONE decode, score natively.
    The scores-level entry point — composable rankers (proximity boost,
    re-scoring) consume this; plain top-k serving wraps it
    (bm25_topk_compressed).

    `term_buckets` MUST match the modulus the index was written with
    (write_index param, committed in the snapshot's state.json — see
    read_index_meta); a mismatched modulus computes wrong bucket values and
    silently prunes away valid postings (ADVICE r1).

    candidate_docs: optional (doc_id) relation restricting SCORING (not
    statistics — df/idf stay global, read from the stored index rows) via
    a left-semi on the decoded candidates, so the per-doc aggregate only
    sees allowed docs. This is the filter hook for phrase/facet/any
    filtered ranking."""
    from ..index.bucketing import prune_terms

    cand = decode_candidates(prune_terms(index_df, query_tokens, term_buckets))
    if candidate_docs is not None:
        cand = cand.join(candidate_docs, "doc_id", "left_semi")
    return score_rows(cand, doc_stats_df, n_docs, avgdl, k1, b)


def bm25_topk_compressed(
    spark: SparkSession,
    index_df: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    query_tokens: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    term_buckets: int = 32,
    candidate_docs: DataFrame | None = None,
    round_scores: int | None = None,
) -> DataFrame:
    """Top-k over bm25_scores_compressed. round_scores: round to this many
    decimals BEFORE ranking (rank ties on the rounded value — pass whatever
    the comparison oracle rounds to).

    One plan, built with no driver action and in as many py4j calls for 1
    term as for 4 (or none, which gives no rows): bucket-pruned scan, one
    decode, the doc_stats join, the codegen BM25 sum, top-k. A sub-second
    query is bound by its Spark stage chain, not its data, so this
    exhaustive decode beats any distributed block-max pruning that needs a
    theta subtree (OPTIMIZATION_r06.md §5)."""
    scored = bm25_scores_compressed(
        spark,
        index_df,
        doc_stats_df,
        n_docs,
        avgdl,
        query_tokens,
        k1=k1,
        b=b,
        term_buckets=term_buckets,
        candidate_docs=candidate_docs,
    )
    if round_scores is not None:
        scored = scored.select(
            "doc_id", F.round("score", round_scores).alias("score")
        )
    return topk(scored, k)


def bm25_phrase_topk_compressed(
    spark: SparkSession,
    index_df: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    pos_idx: DataFrame,
    phrase: list[str],
    query_tokens: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    term_buckets: int = 32,
    pos_term_buckets: int | None = None,
    round_scores: int | None = None,
) -> DataFrame:
    """Phrase-filtered BM25 top-k served ENTIRELY from stored indexes
    (VERDICT r3 #7): the phrase candidate set comes from the positional
    index (index/positions.phrase_match_indexed — explode pruned to the
    phrase terms, bucket partition pruning via pos_term_buckets) and the
    scores come from the compressed posting index (bucket-pruned via
    term_buckets) — the corpus is never touched. Lucene's
    PhraseQuery+scoring shape, expressed as bm25_topk_compressed with the
    phrase hits as candidate_docs (one scorer, one copy of the frozen BM25
    and segmented-df rules)."""
    from ..index.positions import phrase_match_indexed

    phrase_docs = phrase_match_indexed(
        spark, pos_idx, phrase, pos_term_buckets
    ).select("doc_id")
    return bm25_topk_compressed(
        spark,
        index_df,
        doc_stats_df,
        n_docs,
        avgdl,
        query_tokens,
        k=k,
        k1=k1,
        b=b,
        term_buckets=term_buckets,
        candidate_docs=phrase_docs,
        round_scores=round_scores,
    )


def bm25_topk_batch_compressed(
    spark: SparkSession,
    index_df: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    queries: dict[int, list[str]],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    term_buckets: int = 32,
    round_scores: int | None = None,
) -> DataFrame:
    """Whole-query-SET serving from the stored compressed index →
    (query_id, rank, doc_id, score): ONE bucket-pruned index scan and ONE
    decode for the UNION of all queries' terms, contributions joined to
    the broadcast (query_id, term) relation (JVM-local, see
    bm25.query_pairs_df: no job of its own), aggregated per
    (query_id, doc_id), ranked per query_id. The index-served sibling of
    queryexec/bm25.bm25_topk_batch — |Q| separate queries would decode
    shared hot terms |Q| times; the batch decodes each term once. df/idf
    are the stored TERM-TOTAL values, identical for every query in the
    batch, and the plan costs as many py4j calls for 8 distinct terms as
    for 200. round_scores: round BEFORE ranking (the decode path's float
    summation order differs from the corpus-side oracle's, so ranking must
    tie on the rounded value both sides)."""
    from ..index.bucketing import prune_terms

    union_terms = sorted({t for toks in queries.values() for t in toks})
    rows = prune_terms(index_df, union_terms, term_buckets)
    scored = score_rows(
        decode_candidates(rows), doc_stats_df, n_docs, avgdl, k1, b,
        queries=query_pairs_df(spark, queries),
    )
    if round_scores is not None:
        scored = scored.select(
            "query_id", "doc_id", F.round("score", round_scores).alias("score")
        )
    return topk_per_query(scored, k)


def bm25_proximity_topk_compressed(
    spark: SparkSession,
    index_df: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    pos_idx: DataFrame,
    term_a: str,
    term_b: str,
    window: int,
    query_tokens: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    term_buckets: int = 32,
    pos_term_buckets: int | None = None,
    round_scores: int | None = None,
) -> DataFrame:
    """Proximity-RANKED BM25 top-k served ENTIRELY from stored indexes
    (VERDICT r4 #3 — the corpus-side gate q_bm25_proximity_topk rebuilt the
    positional index inline): min token distance comes from the positional
    index (index/positions.proximity_match_indexed — a per-doc sorted
    occurrence array, bucket partition pruning via pos_term_buckets) and
    BM25 from the compressed posting index (bucket-pruned via term_buckets); the corpus is
    never touched. score' = bm25 · (1 + 1/(1 + min_dist)) for docs whose
    terms co-occur within `window`, plain bm25 otherwise — the same composed
    ranker the corpus-side gate fixes, so the two are oracle-interchangeable.
    The boost multiplies the UNROUNDED score; one final round (round_scores)
    before ranking keeps engine and oracle ranking the same values."""
    from ..index.positions import proximity_match_indexed

    prox = proximity_match_indexed(
        spark, pos_idx, term_a, term_b, window, pos_term_buckets
    )
    scored = bm25_scores_compressed(
        spark,
        index_df,
        doc_stats_df,
        n_docs,
        avgdl,
        query_tokens,
        k1=k1,
        b=b,
        term_buckets=term_buckets,
    )
    boost = 1.0 + F.when(
        F.col("min_dist").isNotNull(), 1.0 / (1.0 + F.col("min_dist"))
    ).otherwise(0.0)
    boosted = scored.join(prox, "doc_id", "left").select(
        "doc_id", (F.col("score") * boost).alias("score")
    )
    if round_scores is not None:
        boosted = boosted.select(
            "doc_id", F.round("score", round_scores).alias("score")
        )
    return topk(boosted, k)
