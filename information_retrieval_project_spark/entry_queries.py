"""Driver-contract queries: Spark plan + DuckDB oracle SQL per operator.

Each entry implements one operator family from SURVEY.md §2 over the driver's
parquet tables (documents and embeddings). The Spark side is
DataFrame/Catalyst-native (JVM column math — no Python UDFs in any of
these plans); the oracle side is ANSI SQL for DuckDB. Column names and float
rounding match exactly on both sides (driver hashes values order-insensitively).

Tokenization here is the engine's frozen "code" strategy expressed natively:
split(lower(text), '[^a-z0-9_]+') minus empty strings — byte-identical to
functions.textnorm.tokenize(text, "code") and to the DuckDB regexp split.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queryexec.bm25 import (
    B,
    K1,
    bm25_contrib,
    local_relation,
    query_terms_df,
    topk,
    with_df,
)

BM25_QUERY = ["join", "spark", "window"]     # terms present in the driver corpus
LM_QUERY = ["table", "query"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition of an under-parallel scan (guide §2.5 "input
    skew ... one huge unsplittable file: repartition immediately after the
    read"): the driver's documents table is ONE small parquet file = one
    scan task, so the shuffle-free in-row pipelines (Arrow tokenize,
    per-element shingle hashing) would otherwise run single-core — the r5
    forms only dodged this because their posexplode/groupBy exchanges
    accidentally re-spread the rows. Scale-adaptive: a no-op whenever the
    scan already carries >= defaultParallelism partitions (a real corpus at
    scale has file-granular parallelism and must NOT be re-shuffled)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) in document order — native split/explode."""
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z0-9_]+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )


_TOKENS_SQL = """
    SELECT doc_id, t.term AS term
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z0-9_]+')) AS term
        FROM documents
    ) t
    WHERE t.term <> ''
"""


def _positions(spark, sf_dir):
    """(doc_id, pos, term) in document order — native posexplode."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9_]+"), lambda x: x != ""
            )
        ).alias("pos", "term"),
    )


_POSITIONS_SQL = """
    SELECT doc_id,
           generate_subscripts(toks, 1) - 1 AS pos,
           unnest(toks) AS term
    FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                           x -> x <> '') AS toks
        FROM documents
    )
"""


def _tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, tf) via the engine's mapInArrow tokenizer
    (index/build.tokenize_tf): the (doc_id, term) reduction finishes INSIDE
    each Arrow batch, so no token-level explode ever reaches a shuffle —
    measured ~7x faster than the native explode+groupBy form this helper
    used through r5 (BENCH_NOTES tokenization ladder; guide §4.2). Value
    parity with the oracle's regexp_split_to_array is the frozen textnorm
    contract, already driver-hashed through the compressed_term_df gate
    (tokenize_tf → SQL term_df oracle, green r3/r4) and pinned by
    tests/test_index_build.py."""
    from .index.build import tokenize_tf

    return tokenize_tf(_docs_as_corpus(spark, sf_dir))


_TF_SQL = f"SELECT doc_id, term, count(*) AS tf FROM ({_TOKENS_SQL}) GROUP BY doc_id, term"


# ---------------------------------------------------------------------------
# IR core (SURVEY.md §2.4 A1-A3, §2.8 F1-F4, §2.6 T1)
# ---------------------------------------------------------------------------

def q_tf_pairs(spark, sf_dir):
    return _tf(spark, sf_dir)


SQL_TF_PAIRS = _TF_SQL


def q_term_df(spark, sf_dir):
    return _tf(spark, sf_dir).groupBy("term").agg(F.count("*").alias("df"))


SQL_TERM_DF = f"SELECT term, count(*) AS df FROM ({_TF_SQL}) GROUP BY term"


def q_doc_stats(spark, sf_dir):
    return _tf(spark, sf_dir).groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))


# CAST: DuckDB sum(BIGINT) yields HUGEINT (→ float64 in pandas) while Spark
# returns long — the driver's value hash distinguishes them (CORRECTNESS_r01).
SQL_DOC_STATS = (
    f"SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len"
    f" FROM ({_TF_SQL}) GROUP BY doc_id"
)


def q_collection_stats(spark, sf_dir):
    ds = q_doc_stats(spark, sf_dir)
    return ds.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("doc_len"), 6).alias("avgdl"),
        F.sum("doc_len").alias("total_terms"),
    )


SQL_COLLECTION_STATS = f"""
    SELECT count(*) AS n_docs,
           round(avg(doc_len), 6) AS avgdl,
           CAST(sum(doc_len) AS BIGINT) AS total_terms
    FROM (SELECT doc_id, sum(tf) AS doc_len FROM ({_TF_SQL}) GROUP BY doc_id)
"""


def _bm25_contribs(tf, terms, w=None):
    """(term, doc_id, ..., contrib) candidate rows of the broadcast `terms`
    relation, BM25 contributions over collection statistics cross-joined in
    as columns (n_docs, avgdl), so no statistic is collected. w: the name
    of a weight column of `terms` that scales each contribution."""
    ds = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    stats = ds.agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )
    return (
        with_df(tf, terms)
        .join(ds, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", bm25_contrib("n_docs", "avgdl", w=w))
    )


def _bm25_scores(spark, sf_dir, terms: list[str]) -> DataFrame:
    """Candidate-doc BM25 scores, fully native column math (SURVEY.md §3.1).

    tf is persisted WITHIN this call only: four branches (doc_stats, stats,
    candidate join, df) would otherwise each re-tokenize the corpus — the
    ad-hoc-query analogue of the build's tf materialization
    (index/build.build_index). Lifecycle (VERDICT r4 #4: the old version
    persisted tf and never released it, so every gate built on this helper
    left a cached relation behind and queries coupled through the cache):
    the per-candidate-doc score relation — naturally small, one row per doc
    matching a query term — is eagerly localCheckpoint'ed, then tf is
    unpersisted before returning, same hygiene as the PRF/MLT/batch gates.
    Downstream composition (phrase/facet semi-joins, rank windows) reads the
    materialized scores instead of re-deriving the whole subtree."""
    tf = _tf(spark, sf_dir).persist()
    scored = (
        _bm25_contribs(tf, query_terms_df(spark, terms))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    out = scored.localCheckpoint(eager=True)
    tf.unpersist()
    return out


def _bm25_scores_weighted(tf, wterms, exclude_doc=None):
    """Per-doc BM25 over a (term, w) weight relation, contributions scaled
    by w, score rounded to 5 decimals — the shared scorer behind the
    PRF and MoreLikeThis gates (weights 1.0 reproduce plain BM25). df is
    the term's full-collection df; exclude_doc drops one doc_id BEFORE the
    aggregate (MoreLikeThis never returns its seed)."""
    scored = _bm25_contribs(tf, wterms, w="w")
    if exclude_doc is not None:
        scored = scored.filter(F.col("doc_id") != exclude_doc)
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 5).alias("score")
    )


def q_bm25_scores(spark, sf_dir):
    s = _bm25_scores(spark, sf_dir, BM25_QUERY)
    return s.select("doc_id", F.round("score", 5).alias("score"))


def _bm25_sql_body(terms: list[str]) -> str:
    """The shared WITH-chain ending in `scored(doc_id, score)` (unrounded)
    — composable: append further CTEs with a comma."""
    tlist = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    return f"""
    WITH tf AS ({_TF_SQL}),
    ds AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM ds),
    qterms(term) AS (VALUES {tlist}),
    cand AS (SELECT tf.* FROM tf JOIN qterms USING (term)),
    dfq AS (SELECT term, count(*) AS df FROM cand GROUP BY term),
    scored AS (
        SELECT cand.doc_id,
               sum(
                   ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                   * (cand.tf * ({K1} + 1.0))
                   / (cand.tf + {K1} * (1.0 - {B} + {B} * ds.doc_len / stats.avgdl))
               ) AS score
        FROM cand
        JOIN dfq USING (term)
        JOIN ds ON cand.doc_id = ds.doc_id
        CROSS JOIN stats
        GROUP BY cand.doc_id
    )
    """


def _bm25_sql(terms: list[str], with_topk: bool) -> str:
    body = _bm25_sql_body(terms)
    if with_topk:
        return (
            body
            + " SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,"
            + " doc_id, round(score, 5) AS score FROM scored"
            + " ORDER BY score DESC, doc_id ASC LIMIT 10"
        )
    return body + " SELECT doc_id, round(score, 5) AS score FROM scored"


SQL_BM25_SCORES = _bm25_sql(BM25_QUERY, with_topk=False)


def q_bm25_topk(spark, sf_dir):
    s = _bm25_scores(spark, sf_dir, BM25_QUERY)
    return topk(s, 10).select("rank", "doc_id", F.round("score", 5).alias("score"))


SQL_BM25_TOPK = _bm25_sql(BM25_QUERY, with_topk=True)


def q_tfidf_cosine(spark, sf_dir):
    """sklearn-form TF-IDF cosine vs the fixed query (SURVEY.md F3/F4).

    tf persists only within this call (VERDICT r4 #4): the per-doc cosine
    result is checkpointed eagerly and tf released before returning."""
    terms = sorted(set(BM25_QUERY))
    tf = _tf(spark, sf_dir).persist()
    n_docs_df = tf.select("doc_id").distinct().agg(F.count("*").alias("n_docs"))
    dfs = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = (
        tf.join(dfs, "term")
        .crossJoin(F.broadcast(n_docs_df))
        .withColumn(
            "w_raw",
            F.col("tf") * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0),
        )
    )
    norm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w_raw") ** 2)).alias("nrm"))
    terms_df = local_relation(spark, [(t,) for t in terms], "term string")
    qw = (
        terms_df.join(dfs, "term", "left")
        .na.fill({"df": 0})
        .crossJoin(F.broadcast(n_docs_df))
        .withColumn(
            "qw_raw",
            F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0,
        )
    )
    qn = qw.agg(F.sqrt(F.sum(F.col("qw_raw") ** 2)).alias("qn"))
    # Candidate pruning BEFORE the doc_id join (guide §2.3 "project/filter
    # before the exchange"): the r5 form joined the FULL weighted matrix w
    # (every term of every doc) against norm on doc_id and only then
    # broadcast-filtered to the 3 query terms — the doc_id exchange carried
    # |tf| rows to keep |tf ∩ query| of them. Filtering tf by the broadcast
    # query-term relation first shrinks that exchange to the candidate rows;
    # w_raw for those rows is tf · qw_raw (qw_raw IS the same
    # ln((1+N)/(1+df))+1 factor, computed from the same dfs join, so the
    # product is bit-identical to the w-branch expression).
    cand = (
        tf.join(F.broadcast(qw.select("term", "qw_raw")), "term")
        .withColumn("w_raw", F.col("tf") * F.col("qw_raw"))
    )
    cos = (
        cand.join(norm, "doc_id")
        .crossJoin(F.broadcast(qn))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("w_raw") * F.col("qw_raw")) / (F.first("nrm") * F.first("qn")),
                5,
            ).alias("score")
        )
    )
    out = cos.localCheckpoint(eager=True)
    tf.unpersist()
    return out


SQL_TFIDF_COSINE = f"""
    WITH tf AS ({_TF_SQL}),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    w AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * (ln((1.0 + nd.n_docs) / (1.0 + dfs.df)) + 1.0) AS w_raw
        FROM tf JOIN dfs USING (term) CROSS JOIN nd
    ),
    nrm AS (SELECT doc_id, sqrt(sum(w_raw * w_raw)) AS nrm FROM w GROUP BY doc_id),
    qterms(term) AS (VALUES ('join'), ('spark'), ('window')),
    qw AS (
        SELECT q.term,
               ln((1.0 + nd.n_docs) / (1.0 + coalesce(dfs.df, 0))) + 1.0 AS qw_raw
        FROM qterms q LEFT JOIN dfs ON q.term = dfs.term CROSS JOIN nd
    ),
    qn AS (SELECT sqrt(sum(qw_raw * qw_raw)) AS qn FROM qw)
    SELECT w.doc_id,
           round(sum(w.w_raw * qw.qw_raw) / (any_value(nrm.nrm) * any_value(qn.qn)), 5) AS score
    FROM w JOIN qw USING (term)
    JOIN nrm ON w.doc_id = nrm.doc_id
    CROSS JOIN qn
    GROUP BY w.doc_id
"""


# ---------------------------------------------------------------------------
# Deduplication (training-data ops)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: groups + canonical keeper (min doc_id)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper"))
    )


SQL_DEDUP_EXACT = """
    SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keeper
    FROM documents GROUP BY md5(text)
"""


_N_HASHES = 8


def _shingle_arrays(spark, sf_dir):
    """(doc_id, sh: array of the doc's DISTINCT 3-token shingles), computed
    ENTIRELY in-row (docs with < 3 tokens yield null): tokens stay an array,
    the 3-gram slide is a native transform over offsets, and per-doc
    dedup is array_distinct — zero shuffles, where the r5 form paid a
    posexplode + window sort (partitionBy doc_id) + global DISTINCT
    exchange before any hashing could start (guide §2.4: remove shuffles
    outright). Values are identical to the window form: slice offsets
    1..n-2 are exactly the lead(term,1)/lead(term,2) triples."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9_]+"), lambda x: x != ""
    )
    d = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", toks.alias("toks")
    )
    # short-doc filter on the CHEAP size predicate, BEFORE the shingle
    # expression exists: a filter on the shingle array itself
    # (isNotNull(sh)) would be predicate-pushed below the projection with
    # the whole shingle expression SUBSTITUTED into it — including into the
    # per-element lambda, where the inlined token split re-evaluates per
    # offset (measured 13x: 32 s vs 2.4 s for the sf0.1 scan)
    d = d.filter(F.size("toks") >= 3)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + 1),
                F.element_at(F.col("toks"), i + 2),
            ),
        )
    )
    return d.select("doc_id", sh.alias("sh"))


def _shingles(spark, sf_dir):
    """Distinct 3-token shingles per doc as rows (the MinHash/Jaccard unit —
    unigram sets degenerate on small vocabularies): explode of the in-row
    form above (short docs are already filtered there, matching the old
    lead-is-null filter).

    explode_OUTER on purpose: plain explode triggers the
    InferFiltersFromGenerate rule, which pushes an inferred
    size(sh)>0 AND isnotnull(sh) predicate below the repartition with the
    WHOLE shingle expression substituted in — the token split then
    re-evaluates per shingle offset on the single pre-repartition scan
    task (measured 346 s vs 4 s on the 50k-doc scale-up). The rule skips
    outer generators, and sh is provably non-null and non-empty here
    (size(toks) >= 3 already filtered), so the rows are identical."""
    return _shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode_outer("sh").alias("shingle")
    )


_SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id,
           term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w AS shingle
    FROM ({_POSITIONS_SQL})
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY lead(term, 2) OVER w IS NOT NULL
"""


def _minhash_sig_arrays(spark, sf_dir, hash_col):
    """(doc_id, h0..h{n-1}) with NO shuffle at all: each h_i is
    array_min over the in-row shingle array hashed per element —
    min-over-group becomes min-over-array because the shingle set never
    left its document row (guide §2.4). hash_col(shingle_col, i) supplies
    the per-seed hash expression."""
    d = _shingle_arrays(spark, sf_dir)

    def _h(i):
        # single-argument lambda: a 2-arg callable would make F.transform
        # pass the ELEMENT INDEX as the second argument
        return lambda s: hash_col(s, i)

    return d.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("sh"), _h(i))).alias(f"h{i}")
            for i in range(_N_HASHES)
        ],
    )


def q_minhash_signatures(spark, sf_dir):
    """MinHash over distinct 3-token shingles; hash_i(s) = md5(i || '_' || s),
    min taken lexicographically (md5 hex order is a uniform permutation proxy
    — identical string semantics in both engines). Since r6 the min runs
    over the in-row shingle array (array_min of per-element md5) — the md5
    work is unchanged, the explode + groupBy exchange is gone."""
    return _minhash_sig_arrays(
        spark, sf_dir, lambda s, i: F.md5(F.concat(F.lit(f"{i}_"), s))
    )


SQL_MINHASH_SIGNATURES = f"""
    SELECT doc_id,
           {", ".join(f"min(md5('{i}_' || shingle)) AS h{i}" for i in range(_N_HASHES))}
    FROM ({_SHINGLES_SQL})
    GROUP BY doc_id
"""


def q_minhash_band_pairs(spark, sf_dir):
    """LSH banding: 4 bands × 2 rows; candidate pairs share any band value.
    Classic MinHash-LSH (Broder; MMDS ch.3) as a self-join on band keys
    (dedup.minhash_lsh_pairs with the oracle's concatenated md5 keys,
    h0 || h1), with its skew guard: buckets above 1000 members are skipped
    before the self-join (oracle mirrors the HAVING)."""
    # The bands relation feeds FOUR plan instantiations (self-join left +
    # right, each carrying the bucket-cap aggregate) — persist the
    # shuffle-free signature computation so tokenize+shingle+8×md5 runs a
    # single time instead of once per instantiation (guide §3.3: materialise
    # an intermediate rather than recompute a duplicated subtree). The small
    # pairs result is checkpointed eagerly and the signatures released
    # before returning (the gate persist-hygiene pattern).
    from .dedup.dedup import minhash_lsh_pairs

    sig = q_minhash_signatures(spark, sf_dir).persist()
    out = minhash_lsh_pairs(
        sig, rows_per_band=2, max_bucket=1000, key=F.concat
    ).localCheckpoint(eager=True)
    sig.unpersist()
    return out


SQL_MINHASH_BAND_PAIRS = f"""
    WITH sig AS ({SQL_MINHASH_SIGNATURES}),
    bands0 AS (
        SELECT doc_id, 0 AS band, h0 || h1 AS key FROM sig
        UNION ALL SELECT doc_id, 1, h2 || h3 FROM sig
        UNION ALL SELECT doc_id, 2, h4 || h5 FROM sig
        UNION ALL SELECT doc_id, 3, h6 || h7 FROM sig
    ),
    ok AS (SELECT band, key FROM bands0 GROUP BY band, key HAVING count(*) <= 1000),
    bands AS (SELECT bands0.* FROM bands0 JOIN ok USING (band, key))
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""


def q_minhash_band_pairs_fast(spark, sf_dir):
    """ENGINE-NATIVE LSH banding (VERDICT r4 #5: the oracled gate's
    md5-per-hash signatures are its measured cost — md5 is the
    oracle-parity choice, not the engine one): same distinct-3-shingle
    corpus relation, same 8-hash (_N_HASHES) signature at the SAME 4-band x
    2-row banding and the same 1000-member bucket cap as the md5 gate —
    so the recorded timing delta measures exactly the hash-function swap
    (one 64-bit JVM xxhash64 per (shingle, seed) vs an md5 hex string),
    not a different LSH operating point. Different permutation proxy ⇒ a
    different (equally valid) candidate-pair sample at the same threshold,
    so there is no SQL oracle (DuckDB has no xxhash64) — the driver
    records rows-only; pytest asserts exact-duplicate recall matches the
    md5 form."""
    from .dedup.dedup import minhash_lsh_pairs

    # identical xxhash64(shingle, seed) values, computed as array_min over
    # the in-row shingle array (no explode/groupBy exchange) and persisted
    # for the banding self-join — same restructure and same hygiene as the
    # md5 gate, so the md5-vs-xxhash64 timing delta stays a pure
    # hash-function comparison at the identical operating point
    sig = _minhash_sig_arrays(
        spark, sf_dir, lambda s, i: F.xxhash64(s, F.lit(i))
    ).persist()
    out = minhash_lsh_pairs(
        sig, n_bands=4, rows_per_band=2, max_bucket=1000
    ).orderBy("doc_a", "doc_b").localCheckpoint(eager=True)
    sig.unpersist()
    return out


def q_ngram_jaccard_pairs(spark, sf_dir):
    """3-token-shingle Jaccard over candidate pairs sharing ≥1 shingle.
    Join-based set-similarity (the scalable form of pairwise Jaccard), with
    the document-frequency cap of dedup.ngram_jaccard_pairs: shingles in
    >1000 docs are excluded before the self-join (oracle mirrors it)."""
    from .dedup.dedup import cap_buckets

    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    rare = cap_buckets(sh, ["shingle"], 1000)
    inter = (
        rare.alias("a")
        .join(rare.alias("b"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb"), "doc_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 5))
        .filter(F.col("jaccard") >= 0.2)
        .select("doc_a", "doc_b", "jaccard")
    )


SQL_NGRAM_JACCARD_PAIRS = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    rare AS (
        SELECT sh.* FROM sh
        JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000)
        USING (shingle)
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 5) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.doc_id
    JOIN sizes sb ON inter.doc_b = sb.doc_id
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.2
"""


# ---------------------------------------------------------------------------
# Text analysis (training-data ops)
# ---------------------------------------------------------------------------

def q_token_stats(spark, sf_dir):
    """Per-doc token stats computed from the (doc_id, term, tf) relation
    instead of the raw occurrence stream: the Arrow tokenizer finishes the
    per-batch reduction, so the shuffle carries tf triples, not every token
    occurrence, and the expensive count_distinct over occurrences becomes a
    plain row count. Every value is EXACT integer arithmetic in doubles
    (sums of ints and int products < 2^53), so the divisions — ttr =
    n_distinct/n_tokens, avg_token_len = Σ len·tf / Σ tf — are bit-identical
    to the occurrence-level count_distinct/avg the r5 form computed."""
    tf = _tf(spark, sf_dir)
    return tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(F.count("*") / F.sum("tf"), 6).alias("ttr"),
        F.round(
            F.sum(F.length("term") * F.col("tf")) / F.sum("tf"), 6
        ).alias("avg_token_len"),
    )


SQL_TOKEN_STATS = f"""
    SELECT doc_id,
           count(*) AS n_tokens,
           count(DISTINCT term) AS n_distinct,
           round(count(DISTINCT term) * 1.0 / count(*), 6) AS ttr,
           round(avg(length(term)), 6) AS avg_token_len
    FROM ({_TOKENS_SQL}) GROUP BY doc_id
"""


def q_doc_quality(spark, sf_dir):
    """Quality heuristics: chars/token, short-doc and low-diversity flags."""
    d = _t(spark, sf_dir, "documents")
    ts = q_token_stats(spark, sf_dir)
    return (
        d.select("doc_id", "n_chars")
        .join(ts, "doc_id")
        .select(
            "doc_id",
            F.round(F.col("n_chars") / F.col("n_tokens"), 6).alias("chars_per_token"),
            (F.col("n_tokens") < 40).cast("int").alias("flag_short"),
            (F.col("ttr") < 0.3).cast("int").alias("flag_low_diversity"),
        )
    )


SQL_DOC_QUALITY = f"""
    WITH ts AS ({SQL_TOKEN_STATS})
    SELECT d.doc_id,
           round(d.n_chars * 1.0 / ts.n_tokens, 6) AS chars_per_token,
           CASE WHEN ts.n_tokens < 40 THEN 1 ELSE 0 END AS flag_short,
           CASE WHEN ts.ttr < 0.3 THEN 1 ELSE 0 END AS flag_low_diversity
    FROM documents d JOIN ts ON d.doc_id = ts.doc_id
"""


def q_doc_fingerprint(spark, sf_dir):
    """Deterministic content fingerprint: md5 over the sorted distinct term
    set (document fingerprinting for dedup bookkeeping)."""
    toks = _tokens(spark, sf_dir).distinct()
    return toks.groupBy("doc_id").agg(
        F.md5(F.array_join(F.array_sort(F.collect_set("term")), " ")).alias(
            "fingerprint"
        )
    )


SQL_DOC_FINGERPRINT = f"""
    SELECT doc_id, md5(string_agg(term, ' ' ORDER BY term)) AS fingerprint
    FROM (SELECT DISTINCT doc_id, term FROM ({_TOKENS_SQL}))
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Embedding similarity (training-data ops)
# ---------------------------------------------------------------------------

def q_cosine_scores(spark, sf_dir):
    """Brute-force cosine of every vector vs the vec_id=0 query vector —
    the exact baseline for ANN (SURVEY.md 'similarity search'). Native
    higher-order functions: zip_with + aggregate, no UDF."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot / (nrm(F.col("embedding")) * nrm(F.col("qv"))), 5).alias(
                "cosine"
            ),
        )
    )


SQL_COSINE_SCORES = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT e.vec_id,
           round(
               list_dot_product(e.embedding, q.qv)
               / (sqrt(list_dot_product(e.embedding, e.embedding))
                  * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cosine
    FROM e CROSS JOIN q
    WHERE e.vec_id <> 0
"""


# ---------------------------------------------------------------------------
# Language-model parity ops (SURVEY.md §2.10 L3/L7, A4, F8)
# ---------------------------------------------------------------------------

def q_bigram_counts(spark, sf_dir):
    """Collection-level adjacent-bigram counts (reference ngrams,
    data_manager.py:499-503), filtered to cnt>=5 to bound output."""
    p = _positions(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        p.withColumn("b", F.lead("term", 1).over(w))
        .filter(F.col("b").isNotNull())
        .groupBy(F.col("term").alias("a"), "b")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )


SQL_BIGRAM_COUNTS = f"""
    WITH p AS ({_POSITIONS_SQL}),
    bg AS (
        SELECT doc_id, term AS a,
               lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b
        FROM p
    )
    SELECT a, b, count(*) AS cnt FROM bg WHERE b IS NOT NULL
    GROUP BY a, b HAVING count(*) >= 5
"""


def q_skipgram_counts(spark, sf_dir):
    """Skip-gram pair counts within window s=2 (reference skip(),
    data_manager.py:392-397): ordered pairs (a,b) with 1 <= pos_b-pos_a <= 2,
    via a self-join on position — the distributed form of the nested loop."""
    p = _positions(spark, sf_dir)
    a = p.alias("x")
    b = p.alias("y")
    return (
        a.join(
            b,
            (F.col("x.doc_id") == F.col("y.doc_id"))
            & (F.col("y.pos") - F.col("x.pos") >= 1)
            & (F.col("y.pos") - F.col("x.pos") <= 2),
        )
        .groupBy(F.col("x.term").alias("a"), F.col("y.term").alias("b"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 10)
    )


SQL_SKIPGRAM_COUNTS = f"""
    WITH p AS ({_POSITIONS_SQL})
    SELECT x.term AS a, y.term AS b, count(*) AS cnt
    FROM p x JOIN p y
      ON x.doc_id = y.doc_id AND y.pos - x.pos BETWEEN 1 AND 2
    GROUP BY x.term, y.term HAVING count(*) >= 10
"""


def q_laplace_lm(spark, sf_dir):
    """Laplace-smoothed log P(query|doc) (reference Laplace_smooth,
    data_manager.py:427-438): Σ_t ln((1+tf)/(doc_len+|V|)) over the fixed
    2-term query — log-sum form of the reference's product (SURVEY.md A8)."""
    tf = _tf(spark, sf_dir)
    ds = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    vocab = tf.select("term").distinct().agg(F.count("*").alias("v"))
    terms_df = local_relation(spark, [(t,) for t in sorted(set(LM_QUERY))], "qterm string")
    grid = ds.crossJoin(F.broadcast(terms_df)).crossJoin(F.broadcast(vocab))
    joined = grid.join(
        tf.withColumnRenamed("term", "qterm"),
        ["doc_id", "qterm"],
        "left",
    ).na.fill({"tf": 0})
    return (
        joined.withColumn(
            "logp", F.log((1.0 + F.col("tf")) / (F.col("doc_len") + F.col("v")))
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("logp"), 5).alias("log_prob"))
    )


SQL_LAPLACE_LM = f"""
    WITH tf AS ({_TF_SQL}),
    ds AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
    vocab AS (SELECT count(DISTINCT term) AS v FROM tf),
    qterms(qterm) AS (VALUES ('query'), ('table')),
    grid AS (SELECT ds.doc_id, ds.doc_len, q.qterm, vocab.v
             FROM ds CROSS JOIN qterms q CROSS JOIN vocab)
    SELECT g.doc_id,
           round(sum(ln((1.0 + coalesce(tf.tf, 0)) / (g.doc_len + g.v))), 5) AS log_prob
    FROM grid g
    LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.term = g.qterm
    GROUP BY g.doc_id
"""


def q_ppmi(spark, sf_dir):
    """PPMI over adjacent bigrams (reference pmi_matrix,
    data_manager.py:639-655): max(log2(P(w,c)/(P(w)P(c))), 0) on sparse
    triples — never a dense V×V matrix (SURVEY.md L7)."""
    p = _positions(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        p.withColumn("b", F.lead("term", 1).over(w))
        .filter(F.col("b").isNotNull())
        .groupBy(F.col("term").alias("a"), "b")
        .agg(F.count("*").alias("cnt"))
    )
    tot = bg.agg(F.sum("cnt").alias("t"))
    ca = bg.groupBy("a").agg(F.sum("cnt").alias("cnt_a"))
    cb = bg.groupBy("b").agg(F.sum("cnt").alias("cnt_b"))
    return (
        bg.filter(F.col("cnt") >= 5)
        .join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            F.round(
                F.greatest(
                    F.log2(
                        (F.col("cnt") * F.col("t"))
                        / (F.col("cnt_a") * F.col("cnt_b"))
                    ),
                    F.lit(0.0),
                ),
                5,
            ).alias("ppmi"),
        )
    )


SQL_PPMI = f"""
    WITH p AS ({_POSITIONS_SQL}),
    bg0 AS (
        SELECT doc_id, term AS a,
               lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b
        FROM p
    ),
    bg AS (SELECT a, b, count(*) AS cnt FROM bg0 WHERE b IS NOT NULL GROUP BY a, b),
    tot AS (SELECT sum(cnt) AS t FROM bg),
    ca AS (SELECT a, sum(cnt) AS cnt_a FROM bg GROUP BY a),
    cb AS (SELECT b, sum(cnt) AS cnt_b FROM bg GROUP BY b)
    SELECT bg.a, bg.b,
           round(greatest(log2((bg.cnt * tot.t * 1.0) / (ca.cnt_a * cb.cnt_b)), 0.0), 5) AS ppmi
    FROM bg JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN tot
    WHERE bg.cnt >= 5
"""


# ---------------------------------------------------------------------------
# Evaluation metrics (SURVEY.md L9/W3/W4, A9)
# ---------------------------------------------------------------------------

def q_pr_curve(spark, sf_dir):
    """Precision/recall/interpolated-precision over a deterministic ranking
    (reference getPred + interpolation, data_manager.py:231-259): rank docs
    by n_chars DESC, label = (lang = 'en'), windows for cumulative P/R and
    the running-max interpolated precision."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (F.col("lang") == "en").cast("int").alias("rel")
    )
    # limit FIRST (TakeOrderedAndProject: per-partition heaps + k-row merge),
    # THEN rank the 50 survivors — a global row_number over the full table
    # would shuffle every document to one partition (VERDICT r1 #2; same
    # pattern as queryexec/bm25.topk).
    top = d.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(50)
    # constant partition key: the windows run over exactly the 50 kept rows,
    # so one partition is the point — the key says so explicitly and silences
    # the WindowExec single-partition warning. doc_id*0 (not lit(0)) because
    # Catalyst drops foldable partition expressions, reintroducing the warning.
    one = F.col("doc_id") * 0
    w_rank = Window.partitionBy(one).orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = top.withColumn("rank", F.row_number().over(w_rank))
    tot = ranked.agg(F.sum("rel").alias("total_rel"))
    w_cum = (
        Window.partitionBy(one).orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(one).orderBy("rank")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("cum_rel", F.sum("rel").over(w_cum))
        .withColumn("precision", F.round(F.col("cum_rel") / F.col("rank"), 6))
        .withColumn("recall", F.round(F.col("cum_rel") / F.col("total_rel"), 6))
        .withColumn(
            "interp_precision",
            F.round(F.max(F.col("cum_rel") / F.col("rank")).over(w_fwd), 6),
        )
        .select("rank", "doc_id", "rel", "precision", "recall", "interp_precision")
    )


SQL_PR_CURVE = """
    WITH ranked AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
               row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank
        FROM documents
        QUALIFY rank <= 50
    ),
    tot AS (SELECT sum(rel) AS total_rel FROM ranked),
    cum AS (
        SELECT rank, doc_id, rel,
               sum(rel) OVER (ORDER BY rank
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rel
        FROM ranked
    )
    SELECT rank, doc_id, rel,
           round(cum_rel * 1.0 / rank, 6) AS precision,
           round(cum_rel * 1.0 / total_rel, 6) AS recall,
           round(max(cum_rel * 1.0 / rank)
                 OVER (ORDER BY rank ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 6)
               AS interp_precision
    FROM cum CROSS JOIN tot
"""


def q_avg_precision(spark, sf_dir):
    """Average precision = Σ ΔR·P over the ranking (reference A9/W4,
    data_manager.py:256-258) — lag window + sum aggregate."""
    pr = q_pr_curve(spark, sf_dir).select("rank", "precision", "recall")
    # recall*0, not rank*0: rank (row_number) is non-nullable, and Spark
    # folds non-nullable x*0 out of the partition spec.
    w = Window.partitionBy(F.col("recall") * 0).orderBy("rank")
    return (
        pr.withColumn("d_recall", F.col("recall") - F.lag("recall", 1, 0.0).over(w))
        .agg(F.round(F.sum(F.col("d_recall") * F.col("precision")), 6).alias("avg_precision"))
    )


SQL_AVG_PRECISION = f"""
    WITH pr AS ({SQL_PR_CURVE}),
    d AS (
        SELECT precision,
               recall - lag(recall, 1, 0.0) OVER (ORDER BY rank) AS d_recall
        FROM pr
    )
    SELECT round(sum(d_recall * precision), 6) AS avg_precision FROM d
"""


# ---------------------------------------------------------------------------
# Corpus-metadata aggregate (distinct counts over the documents table)
# ---------------------------------------------------------------------------

def q_lang_distribution(spark, sf_dir):
    """Set-op / distinct coverage: per-lang doc counts + distinct sources."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


SQL_LANG_DISTRIBUTION = """
    SELECT lang, count(*) AS n_docs, count(DISTINCT source) AS n_sources,
           round(avg(n_chars), 6) AS avg_chars
    FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Compressed-index path in the gate: the posting build + varbyte codec must
# reproduce the SQL-visible relations exactly (df per term; BM25 scores).
# ---------------------------------------------------------------------------

def _docs_as_corpus(spark, sf_dir):
    """Adapt the driver documents table to the engine's corpus contract."""
    return _spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id"), F.col("text").alias("content")
    )


def q_compressed_term_df(spark, sf_dir):
    """df per term READ BACK from the compressed posting lists (one-shuffle
    merged build → varbyte decode length) — oracle is plain SQL term_df, so
    a codec or posting-build bug fails the driver gate."""
    from .index.build import BuildConfig, build_postings, tokenize_tf

    tf = tokenize_tf(_docs_as_corpus(spark, sf_dir))
    idx = build_postings(tf, BuildConfig(hot_df_threshold=50, docs_per_salt=200, hot_detection_sample=1.0))
    return idx.select("term", "df")


def q_bm25_topk_compressed(spark, sf_dir):
    """BM25 top-10 via decode of delta+varbyte postings (the engine's stored
    index path) — oracle is the same SQL BM25 as q_bm25_topk."""
    from .index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
        tokenize_tf,
    )
    from .queryexec.wand import bm25_topk_compressed

    tf = tokenize_tf(_docs_as_corpus(spark, sf_dir))
    # ds cached within this gate only (VERDICT r4 #4 hygiene): the k-row
    # result is checkpointed, then the cache is released — q_bm25_topk_sharded
    # caches the same canonical ds plan, and unreleased entries couple the
    # two gates through the CacheManager
    ds = doc_stats(tf).cache()
    cs = collection_stats(ds).collect()[0]
    idx = build_postings(tf, BuildConfig(hot_df_threshold=50, docs_per_salt=200, hot_detection_sample=1.0))
    out = bm25_topk_compressed(
        spark, idx, ds, cs["n_docs"], cs["avgdl"], BM25_QUERY, k=10
    ).select("rank", "doc_id", F.round("score", 5).alias("score"))
    out = out.localCheckpoint(eager=True)
    ds.unpersist()
    return out


def q_bm25_topk_sharded(spark, sf_dir):
    """BM25 top-10 served from a document-sharded index
    (queryexec/sharded.py) — oracle is the same SQL BM25: proves the
    global-df join, the decode and the shared scorer end-to-end."""
    from .index.build import collection_stats, doc_stats, tokenize_tf
    from .queryexec.sharded import bm25_topk_sharded, build_sharded_index

    tf = tokenize_tf(_docs_as_corpus(spark, sf_dir))
    ds = doc_stats(tf).cache()
    cs = collection_stats(ds).collect()[0]
    idx = build_sharded_index(tf, n_shards=8)
    out = bm25_topk_sharded(
        spark, idx, ds, cs["n_docs"], cs["avgdl"], BM25_QUERY, k=10
    ).select("rank", "doc_id", F.round("score", 5).alias("score"))
    out = out.localCheckpoint(eager=True)
    ds.unpersist()
    return out


def q_simhash_fingerprints(spark, sf_dir):
    """Full 64-bit SimHash per doc via dedup.simhash64_md5 — the md5-bit
    variant of the production operator (same vote + two's-complement assembly
    machinery as the xxhash64 path) so DuckDB can verify it exactly
    (VERDICT r1 #6 promoted this from rows-only)."""
    from .dedup.dedup import simhash64_md5

    return simhash64_md5(_docs_as_corpus(spark, sf_dir), content_col="content")


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed cosine top-10 vs vec_id=0, oracle-checked: the seed-42
    hyperplanes are deterministic literals, so the DuckDB oracle embeds the
    same planes and reproduces bucket assignment + hamming≤1 multi-probe +
    cosine exactly (VERDICT r1 #6 promoted this from rows-only)."""
    from .similarity.ann import hyperplanes, lsh_bucketed_topk, rp_lsh_buckets

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    planes = hyperplanes(len(qv), n_planes=8, seed=42)
    bucketed = rp_lsh_buckets(emb.filter(F.col("vec_id") != 0), planes)
    out = lsh_bucketed_topk(bucketed, planes, [float(x) for x in qv], k=10)
    return out.select("vec_id", F.round("cosine", 5).alias("cosine"))


def _ann_lsh_sql() -> str:
    """DuckDB mirror of q_ann_lsh_topk: seed-42 hyperplanes as literal
    DOUBLE lists, bucket = Σ 2^j·[dot(v,h_j)≥0], candidates at hamming ≤ 1
    from the query bucket via bit_count(xor(...)), exact cosine top-10."""
    from .similarity.ann import hyperplanes

    planes = hyperplanes(64, n_planes=8, seed=42)

    def bucket_expr(var: str) -> str:
        terms = []
        for j, h in enumerate(planes):
            lit = "[" + ", ".join(repr(float(x)) for x in h) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({var}, {lit}) >= 0"
                f" THEN {1 << j} ELSE 0 END)"
            )
        return " + ".join(terms)

    cos = (
        "list_dot_product(v, qv) / "
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))"
    )
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
    vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id <> 0),
    vb AS (SELECT vec_id, v, {bucket_expr("v")} AS bucket FROM vecs),
    qb AS (SELECT {bucket_expr("qv")} AS qbucket FROM q)
    SELECT vec_id, round({cos}, 5) AS cosine
    FROM vb CROSS JOIN q CROSS JOIN qb
    WHERE bit_count(xor(CAST(bucket AS BIGINT), CAST(qbucket AS BIGINT))) <= 1
    ORDER BY {cos} DESC, vec_id ASC
    LIMIT 10
    """


SQL_ANN_LSH_TOPK = _ann_lsh_sql()


def q_emb_near_dup_pairs(spark, sf_dir):
    """All-pairs embedding near-dup detection (the dedup-list cell the brief
    names 'embedding-cosine near-dup'): 4-plane sign-LSH buckets, candidates
    at bucket hamming ≤ 1 via probe-explode equi-join (no O(n²) cross), then
    the exact cosine ≥ 0.4 filter. Deterministic: oracle embeds the same
    seed-42 planes and mirrors the hamming predicate."""
    from .similarity.ann import hyperplanes, lsh_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    planes = hyperplanes(64, n_planes=4, seed=42)
    out = lsh_near_dup_pairs(emb, planes, tau=0.4, probe_hamming=1)
    return out.select("id_a", "id_b", F.round("cosine", 5).alias("cosine"))


def _emb_near_dup_sql() -> str:
    from .similarity.ann import hyperplanes

    planes = hyperplanes(64, n_planes=4, seed=42)
    terms = []
    for j, h in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in h) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(e, {lit}) >= 0 THEN {1 << j} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    cos = (
        "list_dot_product(a.e, b.e) / "
        "(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))"
    )
    return f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               {bucket} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 5) AS cosine
    FROM v a JOIN v b
      ON a.vec_id < b.vec_id
     AND bit_count(xor(CAST(a.bucket AS BIGINT), CAST(b.bucket AS BIGINT))) <= 1
    WHERE {cos} >= 0.4
    """


SQL_EMB_NEAR_DUP_PAIRS = _emb_near_dup_sql()


def q_boolean_and_docs(spark, sf_dir):
    """Conjunctive retrieval: documents containing ALL query terms — the
    relational form of posting-list intersection (SURVEY.md §2.3)."""
    toks = _tokens(spark, sf_dir).distinct()
    return (
        toks.filter(F.col("term").isin(BM25_QUERY))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_terms"))
        .filter(F.col("n_terms") == len(BM25_QUERY))
        .select("doc_id")
    )


SQL_BOOLEAN_AND_DOCS = f"""
    SELECT doc_id
    FROM (SELECT DISTINCT doc_id, term FROM ({_TOKENS_SQL}))
    WHERE term IN ('join', 'spark', 'window')
    GROUP BY doc_id
    HAVING count(*) = 3
"""


PAGE_SIZE = 5


def q_bm25_search_after(spark, sf_dir):
    """Keyset pagination (Elasticsearch search_after / Lucene searchAfter):
    page 2 of the BM25 ranking fetched WITHOUT an offset — the client
    resends page 1's last (score, doc_id) cursor and the engine filters
    strictly-after in the (score DESC, doc_id ASC) sort order, then takes
    the next PAGE_SIZE. At scale this is the only paging that works: OFFSET
    n re-ranks and discards n rows per page, the keyset predicate prunes
    before the top-k heap. Emits global ranks (PAGE_SIZE+1 .. 2*PAGE_SIZE);
    correctness = identity with the oracle's row_number window. Built on
    the generalized cursor API (queryexec/paging.py — VERDICT r4 #6; the
    pagination invariant is property-tested in tests/test_paging.py)."""
    from .queryexec.paging import cursor_of, page_after_df

    scores = _bm25_scores(spark, sf_dir, BM25_QUERY).select(
        "doc_id", F.round("score", 5).alias("score")
    )
    page1 = page_after_df(scores, PAGE_SIZE)
    return page_after_df(
        scores, PAGE_SIZE, cursor_of(page1, PAGE_SIZE), rank_offset=PAGE_SIZE
    )


def q_bm25_page3(spark, sf_dir):
    """Page THREE via two chained cursor hops (page1 → cursor → page2 →
    cursor → page3), all lazy — the multi-page composition the single-hop
    gate can't witness. Emits global ranks 2·PAGE_SIZE+1 .. 3·PAGE_SIZE;
    the oracle is the plain row_number window over the same ranking, so a
    cursor bug anywhere in the chain (tie handling included) flips the
    hash."""
    from .queryexec.paging import cursor_of, page_after_df

    scores = _bm25_scores(spark, sf_dir, BM25_QUERY).select(
        "doc_id", F.round("score", 5).alias("score")
    )
    p1 = page_after_df(scores, PAGE_SIZE)
    p2 = page_after_df(
        scores, PAGE_SIZE, cursor_of(p1, PAGE_SIZE), rank_offset=PAGE_SIZE
    )
    return page_after_df(
        scores,
        PAGE_SIZE,
        cursor_of(p2, PAGE_SIZE),
        rank_offset=2 * PAGE_SIZE,
    )


SQL_BM25_SEARCH_AFTER = f"""
    WITH scored_all AS ({_bm25_sql(BM25_QUERY, with_topk=False)}),
    cursor AS (
        SELECT doc_id AS c_doc, score AS c_score
        FROM (
            SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
            FROM scored_all
        ) WHERE rn = {PAGE_SIZE}
    ),
    page2 AS (
        SELECT s.doc_id, s.score
        FROM scored_all s CROSS JOIN cursor
        WHERE s.score < c_score OR (s.score = c_score AND s.doc_id > c_doc)
    )
    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) + {PAGE_SIZE}
               AS rank,
           doc_id, score
    FROM page2
    ORDER BY score DESC, doc_id ASC LIMIT {PAGE_SIZE}
"""


SQL_BM25_PAGE3 = f"""
    WITH scored_all AS ({_bm25_sql(BM25_QUERY, with_topk=False)}),
    ranked AS (
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
        FROM scored_all
    )
    SELECT rn AS rank, doc_id, score
    FROM ranked
    WHERE rn > {2 * PAGE_SIZE} AND rn <= {3 * PAGE_SIZE}
    ORDER BY rank
"""


MLT_DOC = 38       # seed document
MLT_N_TERMS = 3    # representative terms taken from the seed


def q_more_like_this(spark, sf_dir):
    """Similar-document retrieval (Lucene MoreLikeThis): the seed doc's
    MLT_N_TERMS highest-tf terms (tie-break term ASC) become the query;
    BM25-rank all OTHER docs. Deterministic end to end — term selection is
    integer tf, ranking runs on 5-decimal-rounded scores on both sides.
    One plan: the seed's term row-set is tiny (one doc), broadcast into
    the scorer like any query-term list."""
    tf = _tf(spark, sf_dir).persist()
    seed_terms = (
        tf.filter(F.col("doc_id") == MLT_DOC)
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(MLT_N_TERMS)
        .select("term", F.lit(1.0).alias("w"))
    )
    out = topk(
        _bm25_scores_weighted(tf, seed_terms, exclude_doc=MLT_DOC), 10
    )
    out = out.localCheckpoint(eager=True)
    tf.unpersist()
    return out


SQL_MORE_LIKE_THIS = f"""
    WITH tf AS ({_TF_SQL}),
    seed_terms AS (
        SELECT term FROM tf WHERE doc_id = {MLT_DOC}
        ORDER BY tf DESC, term ASC LIMIT {MLT_N_TERMS}
    ),
    ds AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM ds),
    cand AS (SELECT tf.* FROM tf JOIN seed_terms USING (term)),
    dfq AS (SELECT term, count(*) AS df FROM cand GROUP BY term),
    scored AS (
        SELECT cand.doc_id,
               round(sum(
                   ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                   * (cand.tf * ({K1} + 1.0))
                   / (cand.tf + {K1} * (1.0 - {B} + {B} * ds.doc_len / stats.avgdl))
               ), 5) AS score
        FROM cand
        JOIN dfq USING (term)
        JOIN ds ON cand.doc_id = ds.doc_id
        CROSS JOIN stats
        WHERE cand.doc_id != {MLT_DOC}
        GROUP BY cand.doc_id
    )
    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
           doc_id, score
    FROM scored
    ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_boolean_or_not_docs(spark, sf_dir):
    """The full boolean retrieval shape '(a OR b) AND NOT c' — completes
    the posting-algebra surface next to the conjunctive gate: OR = distinct
    union of the positive terms' postings (one term-pruned scan, no
    per-term jobs), NOT = left-anti against the negative term's postings.
    At scale both sides are broadcast-pruned posting streams; the anti-join
    keys on doc_id."""
    tf = _tf(spark, sf_dir)
    pos = (
        tf.filter(F.col("term").isin("join", "spark"))
        .select("doc_id")
        .distinct()
    )
    neg = tf.filter(F.col("term") == "window").select("doc_id")
    return pos.join(neg, "doc_id", "left_anti")


SQL_BOOLEAN_OR_NOT_DOCS = f"""
    WITH tf AS ({_TF_SQL})
    SELECT DISTINCT doc_id FROM tf
    WHERE term IN ('join', 'spark')
      AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'window')
"""


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed cosine top-10 vs vec_id=0 (rows-only: the k-means
    quantizer is engine-internal; exactness-at-full-nprobe is pytest-proven)."""
    from .similarity.ann import ivf_assign, ivf_topk, ivf_train_centroids

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    cent = ivf_train_centroids(emb, n_centroids=8, iters=4)
    assigned = ivf_assign(emb.filter(F.col("vec_id") != 0), cent)
    return ivf_topk(assigned, cent, qv, k=10, nprobe=3)


def q_ann_ivf_topk_fixed(spark, sf_dir):
    """IVF search with a FIXED coarse codebook (centroids = the embeddings of
    vec_id 1..8) so every step — argmin assignment, nprobe=3 probe selection,
    exact cosine top-10 over probed buckets — is ANSI-SQL-expressible and
    driver-oracled. The k-means-trained variant (ann_ivf_topk) exercises the
    same ivf_assign/ivf_topk machinery and stays rows-only because its
    quantizer is iterative."""
    import numpy as np

    from .similarity.ann import ivf_assign, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    rows = {
        r["vec_id"]: r["embedding"]
        for r in emb.filter(F.col("vec_id") <= 8).collect()
    }
    qv = [float(x) for x in rows[0]]
    cent = np.array([[float(x) for x in rows[c]] for c in range(1, 9)])
    assigned = ivf_assign(emb.filter(F.col("vec_id") != 0), cent)
    out = ivf_topk(assigned, cent, qv, k=10, nprobe=3)
    return out.select("vec_id", F.round("cosine", 5).alias("cosine"))


# DuckDB mirror: centroids read from the table itself (vec_id 1..8, centroid
# index cid = vec_id - 1), assignment = argmin squared distance with the same
# (score, cid) tie-break as ivf_assign, probes = 3 nearest centroids to the
# query, then exact cosine top-10 over vectors assigned to probed centroids.
SQL_ANN_IVF_TOPK_FIXED = """
    WITH c AS (
        SELECT vec_id - 1 AS cid, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings WHERE vec_id BETWEEN 1 AND 8
    ),
    v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id <> 0
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
    assign AS (
        SELECT vec_id, e, cid,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY 2.0 * list_dot_product(e, ce) - list_dot_product(ce, ce) DESC,
                            cid ASC
               ) AS rk
        FROM v CROSS JOIN c
        QUALIFY rk = 1
    ),
    probe AS (
        SELECT cid,
               row_number() OVER (
                   ORDER BY 2.0 * list_dot_product(qe, ce) - list_dot_product(ce, ce) DESC,
                            cid ASC
               ) AS prk
        FROM c CROSS JOIN q
        QUALIFY prk <= 3
    )
    SELECT a.vec_id,
           round(list_dot_product(a.e, q.qe)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(q.qe, q.qe))), 5
           ) AS cosine
    FROM assign a JOIN probe USING (cid) CROSS JOIN q
    ORDER BY list_dot_product(a.e, q.qe)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(q.qe, q.qe))) DESC,
             a.vec_id ASC
    LIMIT 10
"""


def q_merged_index_df(spark, sf_dir):
    """Incremental index merge (index/merge.merge_index): build two indexes
    from an append-only split of the documents table (doc_id parity), merge
    them, and report (term, df, max_tf) — which the DuckDB oracle computes
    from the full corpus directly. Byte-level postings identity vs a one-shot
    build is pytest-proven (test_index_merge); this gate oracles the merged
    STATISTICS relation."""
    from .index.build import BuildConfig, build_postings
    from .index.merge import merge_index

    cfg = BuildConfig(hot_df_threshold=10_000, hot_detection_sample=1.0)
    tf = _tf(spark, sf_dir)
    base = build_postings(tf.filter(F.col("doc_id") % 2 == 0), cfg)
    delta = build_postings(tf.filter(F.col("doc_id") % 2 == 1), cfg)
    merged = merge_index(base, delta)
    return merged.select("term", "df", "max_tf")


SQL_MERGED_INDEX_DF = f"""
    SELECT term, count(*) AS df, CAST(max(tf) AS BIGINT) AS max_tf
    FROM ({_TF_SQL})
    GROUP BY term
"""


def q_deleted_index_df(spark, sf_dir):
    """Tombstone delete (index/merge.delete_docs): build the full index,
    delete every odd-doc_id document, report (term, df, max_tf) — the oracle
    computes the same relation from the surviving documents directly.
    Byte-level identity with a rebuild is pytest-proven (test_index_merge)."""
    from .index.build import BuildConfig, build_postings
    from .index.merge import delete_docs

    cfg = BuildConfig(hot_df_threshold=10_000, hot_detection_sample=1.0)
    tf = _tf(spark, sf_dir)
    idx = build_postings(tf, cfg)
    victims = tf.filter(F.col("doc_id") % 2 == 1).select("doc_id", "term")
    out = delete_docs(idx, victims)
    return out.select("term", "df", "max_tf")


SQL_DELETED_INDEX_DF = f"""
    SELECT term, count(*) AS df, CAST(max(tf) AS BIGINT) AS max_tf
    FROM ({_TF_SQL})
    WHERE doc_id % 2 = 0
    GROUP BY term
"""


def q_lang_id(spark, sf_dir):
    """Marker-heuristic language ID over documents via the textstats module
    path (comparator-lambda argmax over a literal marker map). Oracle-checked:
    the deterministic (cnt DESC, lang ASC) tie-break is exactly the relational
    row_number formulation in SQL_LANG_ID (VERDICT r1 #6 merged the former
    rows-only module gate with its oracled lang_id_sql twin)."""
    from .textstats.textstats import language_id

    d = _t(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    return language_id(d).select(
        "doc_id", "pred_lang", F.col("pred_lang_hits").alias("hits")
    )


def q_token_counts(spark, sf_dir):
    from .textstats.textstats import token_counts

    d = _t(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    return token_counts(d).select("doc_id", "ws_tokens", "bpe_ish_tokens")


SQL_TOKEN_COUNTS = """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^\\sa-zA-Z0-9]')) AS bpe_ish_tokens
    FROM documents
"""


def q_jm_smoothing(spark, sf_dir):
    """Jelinek-Mercer smoothed log P(q|doc) at λ=0.5 over sentinel-wrapped
    bigram LMs — the lm module end-to-end (reference LinInterp_Smooth,
    data_manager.py:442-482, incl. the λ+λ quirk of :480)."""
    from .lm.language_models import jelinek_mercer_scores, skipgram_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    sg = skipgram_pairs(d, s=1)
    out = jelinek_mercer_scores(spark, sg, LM_QUERY, lambdas=[0.5])
    return out.select("doc_id", F.round("log_score", 5).alias("log_score"))


_JM_SQL_TMPL = """
    WITH toks AS (
        SELECT doc_id,
               ['#S'] || list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                                      x -> x <> '') || ['#E'] AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS term
        FROM toks
    ),
    bg AS (
        SELECT doc_id, term AS a,
               lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b
        FROM pos
    ),
    dlm AS (SELECT doc_id, a, b, count(*) AS cnt FROM bg WHERE b IS NOT NULL GROUP BY ALL),
    dmarg AS (SELECT doc_id, a, sum(cnt) AS cnt_a FROM dlm GROUP BY ALL),
    clm AS (SELECT a, b, sum(cnt) AS ccnt FROM dlm GROUP BY ALL),
    cmarg AS (SELECT a, sum(ccnt) AS ccnt_a FROM clm GROUP BY ALL),
    qb(a, b) AS (VALUES ('#S', 'table'), ('table', 'query'), ('query', '#E')),
    cells AS (
        SELECT d.doc_id, q.a, q.b,
               coalesce(dlm.cnt, 0) * 1.0 / nullif(dmarg.cnt_a, 0) AS p_doc,
               coalesce(clm.ccnt, 0) * 1.0 / nullif(cmarg.ccnt_a, 0) AS p_coll
        FROM (SELECT DISTINCT doc_id FROM dlm) d
        CROSS JOIN qb q
        LEFT JOIN dlm ON dlm.doc_id = d.doc_id AND dlm.a = q.a AND dlm.b = q.b
        LEFT JOIN dmarg ON dmarg.doc_id = d.doc_id AND dmarg.a = q.a
        LEFT JOIN clm ON clm.a = q.a AND clm.b = q.b
        LEFT JOIN cmarg ON cmarg.a = q.a
    )
    SELECT doc_id,
           sum(ln(CASE WHEN 0.5 * coalesce(p_doc, 0) + 0.5 * coalesce(p_coll, 0) > 0
                       THEN 0.5 * coalesce(p_doc, 0) + 0.5 * coalesce(p_coll, 0) END))
               AS log_score_raw
    FROM cells GROUP BY doc_id
"""

SQL_JM_SMOOTHING = f"""
    SELECT doc_id, round(log_score_raw, 5) AS log_score FROM ({_JM_SQL_TMPL})
"""


def q_target_doc_threshold(spark, sf_dir):
    """The reference's threshold = score of the target document in the
    ranking (data_manager.py:129-130, main.py:41-43 → SURVEY.md W2):
    target = doc_id 38, plus its rank among all scored docs."""
    s = _bm25_scores(spark, sf_dir, BM25_QUERY)
    # rank-of-one-doc WITHOUT a global single-partition window (scale fix:
    # row_number over the whole scored relation serializes it through one
    # task): rank = 1 + |docs strictly ahead in (score DESC, doc_id ASC)|
    # — a fully parallel broadcast-join + aggregate, same value as the
    # window by definition of row_number.
    target = s.filter(F.col("doc_id") == 38).select(
        F.col("doc_id").alias("t_doc"), F.col("score").alias("t_score")
    )
    ahead = (
        s.crossJoin(F.broadcast(target))
        .filter(
            (F.col("score") > F.col("t_score"))
            | ((F.col("score") == F.col("t_score")) & (F.col("doc_id") < F.col("t_doc")))
        )
        .agg(F.count("*").alias("n_ahead"))
    )
    return target.crossJoin(F.broadcast(ahead)).select(
        F.col("t_doc").alias("doc_id"),
        F.round("t_score", 5).alias("threshold"),
        (F.col("n_ahead") + 1).cast("int").alias("rank"),
    )


SQL_TARGET_DOC_THRESHOLD = (
    _bm25_sql(BM25_QUERY, with_topk=False).replace(
        "SELECT doc_id, round(score, 5) AS score FROM scored",
        """SELECT doc_id, round(score, 5) AS threshold,
                  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
           FROM scored QUALIFY doc_id = 38""",
    )
)


def q_top_doc_per_lang(spark, sf_dir):
    """Per-group top-1 with deterministic tie-break (SURVEY.md T3 min/max
    selection): longest doc per language."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("lang", "doc_id", "n_chars")
    )


SQL_TOP_DOC_PER_LANG = """
    SELECT lang, doc_id, n_chars FROM documents
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) = 1
"""


def q_perplexity(spark, sf_dir):
    """Perplexity of the λ=0.5 JM model per doc (reference
    (1/score)^(1/len(q)), data_manager.py:528 → SURVEY.md L5): query length
    = 3 bigrams (sentinel-wrapped 2-term query)."""
    from .lm.language_models import jelinek_mercer_scores, skipgram_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    sg = skipgram_pairs(d, s=1)
    jm = jelinek_mercer_scores(spark, sg, LM_QUERY, lambdas=[0.5])
    return jm.select(
        "doc_id", F.round(F.exp(-F.col("log_score") / 3.0), 5).alias("perplexity")
    )


SQL_PERPLEXITY = f"""
    SELECT doc_id, round(exp(-log_score_raw / 3.0), 5) AS perplexity
    FROM ({_JM_SQL_TMPL})
"""


def q_tf_pairs_ws(spark, sf_dir):
    """F2 strategy switch: the 'keras' whitespace tokenizer
    (tokenizers.py:42 → text_to_word_sequence) as a native plan."""
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


SQL_TF_PAIRS_WS = """
    SELECT doc_id, term, count(*) AS tf
    FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents
    )
    WHERE term <> ''
    GROUP BY doc_id, term
"""


def q_query_term_overlap(spark, sf_dir):
    """SO2/F14: per-doc overlap of its distinct term set with the fixed query
    term set via array_intersect, plus the binary relevance label
    (reference getCatCorrispondece, data_manager.py:215-229)."""
    toks = F.array_distinct(
        F.filter(F.split(F.lower("text"), "[^a-z0-9_]+"), lambda x: x != "")
    )
    qarr = F.array(*[F.lit(t) for t in sorted(set(BM25_QUERY))])
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_intersect(toks, qarr)).alias("n_common"),
        (F.size(F.array_intersect(toks, qarr)) > 0).cast("int").alias("rel"),
    )


SQL_QUERY_TERM_OVERLAP = """
    SELECT doc_id,
           len(list_intersect(toks, ['join', 'spark', 'window'])) AS n_common,
           CASE WHEN len(list_intersect(toks, ['join', 'spark', 'window'])) > 0
                THEN 1 ELSE 0 END AS rel
    FROM (
        SELECT doc_id,
               list_distinct(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                   x -> x <> '')) AS toks
        FROM documents
    )
"""


def q_top_cooccurring(spark, sf_dir):
    """Top-3 co-occurring terms per query token by bigram PPMI with
    deterministic tie-break — the reference's expansion-candidate selection
    (data_manager.py:686-699 → SURVEY.md W6), via lm/expansion."""
    from .lm.expansion import ppmi_triples, top_cooccurring

    p = _positions(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        p.withColumn("b", F.lead("term", 1).over(w))
        .filter(F.col("b").isNotNull())
        .groupBy(F.col("term").alias("a"), "b")
        .agg(F.count("*").alias("cnt"))
    )
    top = top_cooccurring(ppmi_triples(bg), LM_QUERY, k=3)
    return top.select("a", "b", F.round("ppmi", 5).alias("ppmi"), "rk")


SQL_TOP_COOCCURRING = f"""
    WITH p AS ({_POSITIONS_SQL}),
    bg0 AS (
        SELECT doc_id, term AS a,
               lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b
        FROM p
    ),
    bg AS (SELECT a, b, count(*) AS cnt FROM bg0 WHERE b IS NOT NULL GROUP BY a, b),
    tot AS (SELECT sum(cnt) AS t FROM bg),
    ca AS (SELECT a, sum(cnt) AS cnt_a FROM bg GROUP BY a),
    cb AS (SELECT b, sum(cnt) AS cnt_b FROM bg GROUP BY b),
    ppmi AS (
        SELECT bg.a, bg.b,
               greatest(log2((bg.cnt * tot.t * 1.0) / (ca.cnt_a * cb.cnt_b)), 0.0) AS ppmi
        FROM bg JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN tot
    )
    SELECT a, b, round(ppmi, 5) AS ppmi,
           row_number() OVER (PARTITION BY a ORDER BY ppmi DESC, b ASC) AS rk
    FROM ppmi
    WHERE a IN ('query', 'table') AND b NOT IN ('query', 'table')
    QUALIFY rk <= 3
"""


def q_kmv_sketch(spark, sf_dir):
    """KMV distinct-count sketch STATE over document shingles: the 64
    smallest unit-hashes — an exactly-checkable sketch relation
    (textstats/sketches.py; estimate = (k−1)/h_(k))."""
    from .textstats.sketches import kmv_state

    sh = _shingles(spark, sf_dir)
    st = kmv_state(sh, "shingle", k=64)
    return st.select("rk", F.round("h", 12).alias("h"))


SQL_KMV_SKETCH = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hashes AS (
        SELECT CAST(('0x' || substr(md5(shingle), 1, 12)) AS BIGINT) / 281474976710656.0 AS h
        FROM (SELECT DISTINCT shingle FROM sh)
    )
    SELECT row_number() OVER (ORDER BY h) AS rk, round(h, 12) AS h
    FROM hashes ORDER BY h LIMIT 64
"""


def _lang_markers_values() -> str:
    from .textstats.textstats import LANG_MARKERS

    return ", ".join(
        f"('{lang}', '{m}')"
        for lang, ms in sorted(LANG_MARKERS.items())
        for m in ms
    )


SQL_LANG_ID = f"""
    WITH markers(mlang, marker) AS (VALUES {_lang_markers_values()}),
    hits AS (
        SELECT t.doc_id, m.mlang, count(*) AS cnt
        FROM ({_TOKENS_SQL}) t JOIN markers m ON t.term = m.marker
        GROUP BY t.doc_id, m.mlang
    ),
    grid AS (
        SELECT d.doc_id, l.mlang
        FROM (SELECT doc_id FROM documents) d
        CROSS JOIN (SELECT DISTINCT mlang FROM markers) l
    )
    SELECT doc_id, mlang AS pred_lang, coalesce(cnt, 0) AS hits
    FROM grid LEFT JOIN hits USING (doc_id, mlang)
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY coalesce(cnt, 0) DESC, mlang ASC) = 1
"""


def q_simhash16(spark, sf_dir):
    """16-bit SimHash as PURE column math so DuckDB can verify the bit-vote
    semantics (the 64-bit production variant in dedup/ uses an Arrow UDF and
    stays rows-only): per distinct term, bits come from the first 4 hex
    digits of md5(term); votes are ±1 per doc-term; fingerprint bit j = sign
    of the vote sum."""
    toks = _tokens(spark, sf_dir).distinct()
    h = F.md5(F.col("term"))
    # one vote column per bit (16 small expressions, all codegen)
    votes = [
        F.sum(
            F.when(
                F.shiftright(
                    F.conv(F.substring(h, j // 4 + 1, 1), 16, 10).cast("int"),
                    3 - (j % 4),
                ).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(16)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    fp = F.lit(0)
    for j in range(16):
        fp = fp + F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return agg.select("doc_id", fp.alias("simhash16"))


def _simhash16_sql() -> str:
    votes = ", ".join(
        f"""sum(CASE WHEN (strpos('0123456789abcdef', substr(md5(term), {j // 4 + 1}, 1)) - 1)
                      // {1 << (3 - j % 4)} % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"""
        for j in range(16)
    )
    fp = " + ".join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
    WITH agg AS (
        SELECT doc_id, {votes}
        FROM (SELECT DISTINCT doc_id, term FROM ({_TOKENS_SQL}))
        GROUP BY doc_id
    )
    SELECT doc_id, {fp} AS simhash16 FROM agg
    """


SQL_SIMHASH16 = _simhash16_sql()


def _simhash64_md5_sql() -> str:
    """DuckDB mirror of dedup.simhash64_md5: tf-weighted ±votes per md5 bit,
    signed-long assembly with the -(2^63) two's-complement term for bit 63.
    NULL votes (zero-token docs) fall through every CASE to fingerprint 0."""
    votes = ", ".join(
        f"""sum(CASE WHEN (strpos('0123456789abcdef', substr(md5(term), {j // 4 + 1}, 1)) - 1)
                      // {1 << (3 - j % 4)} % 2 = 1 THEN tf ELSE -tf END) AS v{j}"""
        for j in range(64)
    )
    fp = " + ".join(
        (
            f"(CASE WHEN v{j} > 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END)"
            if j == 63
            else f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        )
        for j in range(64)
    )
    return f"""
    WITH tf AS ({_TF_SQL}),
    agg AS (SELECT doc_id, {votes} FROM tf GROUP BY doc_id)
    SELECT d.doc_id, CAST({fp} AS BIGINT) AS simhash
    FROM documents d LEFT JOIN agg USING (doc_id)
    """


SQL_SIMHASH_FINGERPRINTS = _simhash64_md5_sql()


def q_ql_dirichlet_topk(spark, sf_dir):
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty; queryexec/qlm.py) — the LM-based ranker beside BM25, over
    the same query: score = Σ_t log((tf + μ·P(t|C)) / (dl + μ)), μ=300,
    candidate-restricted to docs matching ≥1 in-collection query term.
    Ranks on 5-decimal-rounded scores on both sides (summation order
    differs engine vs oracle)."""
    from .queryexec.qlm import ql_dirichlet_topk

    tf = _tf(spark, sf_dir).persist()
    ds = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    out = ql_dirichlet_topk(
        spark, tf, ds, BM25_QUERY, k=10, round_scores=5
    )
    out = out.localCheckpoint(eager=True)
    tf.unpersist()
    return out


_QL_TLIST = ", ".join(f"('{t}')" for t in sorted(set(BM25_QUERY)))

# (doc_id, score) of the QL-Dirichlet ranking as a parenthesized
# subquery — standalone for the ql gate, embeddable for the RRF fusion
_QL_SCORED_SQL = f"""(
    WITH tf AS ({_TF_SQL}),
    ds AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
    totals AS (SELECT sum(tf) AS coll_total FROM tf),
    qterms(term) AS (VALUES {_QL_TLIST}),
    cf AS (
        SELECT term,
               300.0 * sum(tf) / (SELECT coll_total FROM totals) AS mu_p
        FROM tf JOIN qterms USING (term) GROUP BY term
    ),
    const AS (SELECT sum(ln(mu_p)) AS base, count(*) AS n_q FROM cf),
    matched AS (
        SELECT tf.doc_id,
               sum(ln(tf.tf + cf.mu_p) - ln(cf.mu_p)) AS match_sum
        FROM tf JOIN cf USING (term) GROUP BY tf.doc_id
    )
    SELECT m.doc_id,
           round(
               const.base + m.match_sum
               - const.n_q * ln(ds.doc_len + 300.0), 5
           ) AS score
    FROM matched m JOIN ds USING (doc_id) CROSS JOIN const
)"""

SQL_QL_DIRICHLET_TOPK = f"""
    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
           doc_id, score
    FROM {_QL_SCORED_SQL}
    ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_bm25_boosted_topk(spark, sf_dir):
    """Function-score ranking (Elasticsearch function_score /
    field-value-factor shape): BM25 multiplied by a deterministic
    metadata factor — score' = bm25 · (1 + ln(1 + n_chars)/10) — the
    standard way engines fold document-level signals (length, recency,
    popularity) into relevance. One broadcast-free doc_id equi-join pulls
    the factor column only (projection pruned to doc_id + n_chars);
    ranking ties on the 5-decimal-rounded boosted value on both sides."""
    scores = _bm25_scores(spark, sf_dir, BM25_QUERY)
    meta = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    boosted = scores.join(meta, "doc_id").select(
        "doc_id",
        F.round(
            F.col("score")
            * (1.0 + F.log(1.0 + F.col("n_chars")) / 10.0),
            5,
        ).alias("score"),
    )
    return topk(boosted, 10)


SQL_BM25_BOOSTED_TOPK = f"""
    {_bm25_sql_body(BM25_QUERY)},
    boosted AS (
        -- boost multiplies the UNROUNDED bm25 (scored CTE), one final
        -- round — the same float pipeline as the engine
        SELECT s.doc_id,
               round(s.score * (1.0 + ln(1.0 + d.n_chars) / 10.0), 5)
                   AS score
        FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    )
    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
           doc_id, score
    FROM boosted ORDER BY score DESC, doc_id ASC LIMIT 10
"""


RRF_K = 60       # the canonical reciprocal-rank-fusion constant
RRF_DEPTH = 50   # fuse the top-RRF_DEPTH of each ranking


def q_hybrid_rrf_topk(spark, sf_dir):
    """Reciprocal rank fusion (Cormack et al. 2009 — the standard way
    engines combine rankers, e.g. lexical + neural hybrid search) of the
    BM25 and query-likelihood rankings for the same query:
    fused(d) = Σ_r 1/(RRF_K + rank_r(d)) over the two top-RRF_DEPTH lists,
    a list not containing d contributing 0. Rank-based, so no score
    calibration between rankers is needed; fusing bounded top-N lists is
    both the standard practice and the scale-safe shape (the full-ranking
    row_number would serialize through one partition). Tie-break doc_id
    ASC; the fused score is a sum of two exact reciprocals — identical
    float math on both sides, rounded to 9 decimals for rank stability."""
    from .queryexec.qlm import ql_dirichlet_topk

    # ONE tokenize pass feeds BOTH rankers: plain BM25 via the shared
    # weighted scorer at weight 1.0 (identical values to _bm25_scores —
    # both round the same sum to 5 decimals), QL via its tf_df parameter
    tf = _tf(spark, sf_dir).persist()
    w1 = local_relation(
        spark, [(t, 1.0) for t in sorted(set(BM25_QUERY))], "term string, w double"
    )
    b_top = topk(
        _bm25_scores_weighted(tf, w1), RRF_DEPTH
    ).select("doc_id", F.col("rank").alias("b_rank"))
    ds = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    q_top = ql_dirichlet_topk(
        spark, tf, ds, BM25_QUERY, k=RRF_DEPTH, round_scores=5
    ).select("doc_id", F.col("rank").alias("q_rank"))
    fused = (
        b_top.join(q_top, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (F.lit(RRF_K) + F.col("b_rank")), F.lit(0.0))
                + F.coalesce(
                    1.0 / (F.lit(RRF_K) + F.col("q_rank")), F.lit(0.0)
                ),
                9,
            ).alias("score"),
        )
    )
    out = topk(fused, 10)
    out = out.localCheckpoint(eager=True)
    tf.unpersist()
    return out


SQL_HYBRID_RRF_TOPK = f"""
    WITH bm25_scored AS ({_bm25_sql(BM25_QUERY, with_topk=False)}),
    b_top AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS b_rank
        FROM bm25_scored
        ORDER BY score DESC, doc_id ASC LIMIT {RRF_DEPTH}
    ),
    ql AS (SELECT * FROM {_QL_SCORED_SQL}),
    q_top AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS q_rank
        FROM ql
        ORDER BY score DESC, doc_id ASC LIMIT {RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(b.doc_id, q.doc_id) AS doc_id,
               round(
                   COALESCE(1.0 / ({RRF_K} + b.b_rank), 0.0)
                   + COALESCE(1.0 / ({RRF_K} + q.q_rank), 0.0), 9
               ) AS score
        FROM b_top b FULL OUTER JOIN q_top q ON b.doc_id = q.doc_id
    )
    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
           doc_id, score
    FROM fused ORDER BY score DESC, doc_id ASC LIMIT 10
"""


FUZZY_QTERM = "hast"    # one edit from BOTH 'hash' and 'fast'
FUZZY_DIST = 1
PREFIX_Q = "s"          # scan / sort / slow / stream / spark / small


def q_fuzzy_term_docs(spark, sf_dir):
    """Fuzzy term query (Lucene FuzzyQuery shape; queryexec/lexical.py):
    dictionary terms within FUZZY_DIST edits of the typo'd FUZZY_QTERM,
    each with its document frequency — the 'did you mean' expansion set.
    The engine applies the lossless length prefilter before levenshtein;
    the oracle applies NO prefilter, so the driver hash proves the
    prefilter drops nothing."""
    from .queryexec.lexical import fuzzy_terms

    tf = _tf(spark, sf_dir)
    matched = fuzzy_terms(
        tf.select("term").distinct(), FUZZY_QTERM, FUZZY_DIST
    )
    return (
        tf.join(F.broadcast(matched), "term")
        .groupBy("term")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_FUZZY_TERM_DOCS = f"""
    WITH tf AS ({_TF_SQL}),
    dict AS (SELECT DISTINCT term FROM tf),
    matched AS (
        SELECT term FROM dict
        WHERE levenshtein(term, '{FUZZY_QTERM}') <= {FUZZY_DIST}
    )
    SELECT tf.term AS term, count(*) AS n_docs
    FROM tf JOIN matched USING (term)
    GROUP BY tf.term
"""


def q_prefix_match_docs(spark, sf_dir):
    """Prefix/wildcard term query (Lucene PrefixQuery shape): distinct
    docs containing ANY dictionary term starting with PREFIX_Q — matched
    variants resolved against the (small) term dictionary first, then one
    broadcast equi-join into the postings relation (queryexec/lexical.py)."""
    from .queryexec.lexical import docs_matching_terms, prefix_terms

    tf = _tf(spark, sf_dir)
    matched = prefix_terms(tf.select("term").distinct(), PREFIX_Q)
    return docs_matching_terms(tf, matched)


SQL_PREFIX_MATCH_DOCS = f"""
    SELECT DISTINCT doc_id FROM ({_TF_SQL})
    WHERE term LIKE '{PREFIX_Q}%'
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

BATCH_QUERIES = {
    0: ["join", "spark", "window"],
    1: ["table", "query"],
    2: ["join", "query"],
}


def q_bm25_topk_batch(spark, sf_dir):
    """Whole-query-SET BM25 in ONE plan (queryexec/bm25.bm25_topk_batch —
    the serving shape for evaluation workloads; VERDICT r2 #7): broadcast
    the (query_id, term) relation, join once against tf, aggregate per
    (query_id, doc_id), rank with a window partitioned by query_id. df/idf
    are per-term GLOBAL quantities computed once from the union of query
    terms, shared by all queries — |Q| driver-loop jobs become one."""
    from .queryexec.bm25 import bm25_topk_batch

    tf = _tf(spark, sf_dir).persist()
    ds = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    stats = ds.agg(F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")).collect()[0]
    out = bm25_topk_batch(
        spark, tf, ds, stats["n_docs"], stats["avgdl"], BATCH_QUERIES, k=5
    ).select(
        "query_id", "rank", "doc_id", F.round("score", 5).alias("score")
    )
    # materialize the |Q|·k-row result (lineage cut), then release tf —
    # no persisted relation outlives the gate query (VERDICT r3 #6)
    out = out.localCheckpoint(eager=True)
    tf.unpersist()
    return out


_BATCH_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, toks in sorted(BATCH_QUERIES.items()) for t in sorted(set(toks))
)

SQL_BM25_TOPK_BATCH = f"""
    WITH tf AS ({_TF_SQL}),
    ds AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM ds),
    qpairs(query_id, term) AS (VALUES {_BATCH_VALUES}),
    uniq AS (SELECT DISTINCT term FROM qpairs),
    cand AS (SELECT tf.* FROM tf JOIN uniq USING (term)),
    dfq AS (SELECT term, count(*) AS df FROM cand GROUP BY term),
    scored AS (
        SELECT q.query_id, cand.doc_id,
               sum(
                   ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                   * (cand.tf * ({K1} + 1.0))
                   / (cand.tf + {K1} * (1.0 - {B} + {B} * ds.doc_len / stats.avgdl))
               ) AS score
        FROM cand
        JOIN dfq USING (term)
        JOIN ds ON cand.doc_id = ds.doc_id
        CROSS JOIN stats
        JOIN qpairs q ON cand.term = q.term
        GROUP BY q.query_id, cand.doc_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
           round(score, 5) AS score
    FROM (
        SELECT query_id, doc_id, score,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id ASC
               ) AS rank
        FROM scored
    )
    WHERE rank <= 5
"""

# served-batch variant: ranks on ROUNDED scores (the compressed decode
# path's float summation order differs from the corpus-side chain, so both
# sides must tie on the rounded value — same rule as every served gate)
SQL_BM25_TOPK_BATCH_SERVED = SQL_BM25_TOPK_BATCH.replace(
    """    SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
           round(score, 5) AS score
    FROM (
        SELECT query_id, doc_id, score,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id ASC
               ) AS rank
        FROM scored
    )
    WHERE rank <= 5""",
    """    SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id, score
    FROM (
        SELECT query_id, doc_id, round(score, 5) AS score,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY round(score, 5) DESC, doc_id ASC
               ) AS rank
        FROM scored
    )
    WHERE rank <= 5""",
)
assert SQL_BM25_TOPK_BATCH_SERVED != SQL_BM25_TOPK_BATCH


def q_bm25_topk_batch_served(spark, sf_dir):
    """The SAME 3-query batch as bm25_topk_batch, served from the stored
    compressed index (queryexec/wand.bm25_topk_batch_compressed): one
    bucket-pruned scan + one decode for the union of query terms serves
    every query in the batch — the evaluation-workload shape at scale.
    Oracle = the corpus-side batch SQL with round-before-rank."""
    from .index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
        tokenize_tf,
    )
    from .queryexec.wand import bm25_topk_batch_compressed

    tf = tokenize_tf(_docs_as_corpus(spark, sf_dir))
    ds = doc_stats(tf).cache()
    cs = collection_stats(ds).collect()[0]
    idx = build_postings(
        tf,
        BuildConfig(hot_df_threshold=50, docs_per_salt=200, hot_detection_sample=1.0),
    )
    out = bm25_topk_batch_compressed(
        spark,
        idx,
        ds,
        cs["n_docs"],
        cs["avgdl"],
        BATCH_QUERIES,
        k=5,
        round_scores=5,
    )
    out = out.localCheckpoint(eager=True)
    ds.unpersist()
    return out

PHRASE = ("table", "hash")


def q_phrase_match_docs(spark, sf_dir):
    """Positional phrase search: docs containing the exact token sequence
    PHRASE, via self-join of the (doc_id, pos, term) relation on
    (doc_id, pos+1) — the positional-index query shape (SURVEY.md P5/W5
    extended to phrases). At scale both sides are term-filtered BEFORE the
    join (predicate pushdown to the scan), so the join touches only the two
    terms' position streams, keyed by (doc_id, pos) — never the corpus."""
    pos = _positions(spark, sf_dir)
    a = pos.filter(F.col("term") == PHRASE[0]).select("doc_id", "pos")
    b = pos.filter(F.col("term") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
    )


SQL_PHRASE_MATCH_DOCS = f"""
    WITH pos AS ({_POSITIONS_SQL}),
    a AS (SELECT doc_id, pos FROM pos WHERE term = '{PHRASE[0]}'),
    b AS (SELECT doc_id, pos - 1 AS pos FROM pos WHERE term = '{PHRASE[1]}')
    SELECT doc_id, count(*) AS n_matches
    FROM a JOIN b USING (doc_id, pos)
    GROUP BY doc_id
"""


def q_phrase_match_indexed(spark, sf_dir):
    """The SAME phrase query served from the POSITIONAL INDEX
    (index/positions.py): positions are materialized per (term, doc) as an
    array<int> at build time, then the query explodes only the phrase
    terms' lists in native Spark expressions — the index-served
    counterpart of phrase_match_docs, oracled by the identical corpus-side
    SQL."""
    from .index.positions import build_positions, phrase_match_indexed

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    idx = build_positions(docs)
    return phrase_match_indexed(spark, idx, list(PHRASE))


def q_dup_clusters(spark, sf_dir):
    """Duplicate CLUSTERS: connected components over the MinHash-LSH
    candidate-pair graph (dedup/clusters.py min-label propagation) — the
    transitive keep-one-per-cluster step of a dedup pipeline. cluster =
    min doc_id of the component; singletons cluster to themselves. The
    oracle is the same closure via a DuckDB recursive CTE."""
    from .dedup.clusters import connected_components

    nodes = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = q_minhash_band_pairs(spark, sf_dir)
    return connected_components(nodes, pairs)


SQL_DUP_CLUSTERS = f"""
    WITH RECURSIVE pairs AS ({SQL_MINHASH_BAND_PAIRS}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src
    )
    SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster
    FROM reach GROUP BY node
"""


def q_snippets(spark, sf_dir):
    """Result-page snippet extraction: for docs matching any BM25_QUERY term,
    an 80-char window starting 20 chars before the EARLIEST term hit in the
    lowered text (deterministic; the fulltext-engine highlight primitive).
    Pure codegen string math — locate/substring — no Python."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("lt")
    )
    big = F.lit(1 << 30)
    pos_cols = [
        F.when(F.locate(t, F.col("lt")) > 0, F.locate(t, F.col("lt"))).otherwise(big)
        for t in sorted(set(BM25_QUERY))
    ]
    d = d.withColumn("minpos", F.least(*pos_cols)).filter(F.col("minpos") < big)
    start = F.greatest(F.lit(1), F.col("minpos") - 20)
    return d.select(
        "doc_id",
        start.cast("long").alias("snippet_start"),
        F.substring(F.col("lt"), start, 80).alias("snippet"),
    )


_SNIPPET_POS = ", ".join(
    f"CASE WHEN strpos(lt, '{t}') > 0 THEN strpos(lt, '{t}') ELSE 1073741824 END"
    for t in sorted(set(BM25_QUERY))
)

SQL_SNIPPETS = f"""
    WITH d AS (SELECT doc_id, lower(text) AS lt FROM documents),
    m AS (SELECT doc_id, lt, least({_SNIPPET_POS}) AS minpos FROM d)
    SELECT doc_id,
           CAST(greatest(1, minpos - 20) AS BIGINT) AS snippet_start,
           substr(lt, greatest(1, minpos - 20), 80) AS snippet
    FROM m WHERE minpos < 1073741824
"""


PROX = ("table", "join")
PROX_WINDOW = 5


def q_proximity_match(spark, sf_dir):
    """Proximity search from the POSITIONAL INDEX: docs where PROX terms
    occur within PROX_WINDOW tokens, with the minimum token distance — the
    proximity-ranking primitive (index/positions.proximity_match_indexed).
    Pruned to the two terms; oracled by the corpus-side positional
    self-join."""
    from .index.positions import build_positions, proximity_match_indexed

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    idx = build_positions(docs)
    return proximity_match_indexed(spark, idx, PROX[0], PROX[1], PROX_WINDOW)


SQL_PROXIMITY_MATCH = f"""
    WITH pos AS ({_POSITIONS_SQL}),
    a AS (SELECT doc_id, pos FROM pos WHERE term = '{PROX[0]}'),
    b AS (SELECT doc_id, pos FROM pos WHERE term = '{PROX[1]}')
    SELECT a.doc_id, CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_dist
    FROM a JOIN b ON a.doc_id = b.doc_id
    GROUP BY a.doc_id
    HAVING min(abs(a.pos - b.pos)) <= {PROX_WINDOW}
"""


def q_bm25_phrase_topk(spark, sf_dir):
    """Composed operator: BM25 top-5 AMONG docs containing the exact PHRASE
    — the 'rank within phrase filter' shape every fulltext engine serves
    (Lucene's PhraseQuery + scoring). The phrase candidate set (positional
    self-join) left-semi-joins the scored relation, so scoring work is
    pruned to phrase docs before the top-k."""
    scores = _bm25_scores(spark, sf_dir, BM25_QUERY)
    phrase_docs = q_phrase_match_docs(spark, sf_dir).select("doc_id")
    # round BEFORE ranking: the oracle's inner CTE materializes rounded
    # scores, so both sides must rank on the same values or a near-tie in
    # the 6th decimal flips ranks between engine and oracle
    filtered = (
        scores.join(phrase_docs, "doc_id", "left_semi")
        .select("doc_id", F.round("score", 5).alias("score"))
    )
    return topk(filtered, 5)


SQL_BM25_PHRASE_TOPK = f"""
    WITH phrase_docs AS ({SQL_PHRASE_MATCH_DOCS}),
    scored_all AS ({_bm25_sql(BM25_QUERY, with_topk=False)})
    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
           doc_id, score
    FROM (
        -- round INSIDE the subquery (VERDICT r3 #2): the outer window's
        -- ORDER BY resolves `score` against this subquery's output, so
        -- materializing the rounded value here makes the window, the final
        -- ORDER BY/LIMIT, and the engine (which rounds before ranking) all
        -- rank the SAME values — a 6th-decimal near-tie can no longer flip
        -- rank/membership between engine and oracle
        SELECT s.doc_id, round(s.score, 5) AS score FROM scored_all s
        JOIN phrase_docs p ON s.doc_id = p.doc_id
    )
    ORDER BY score DESC, doc_id ASC LIMIT 5
"""


def q_bm25_phrase_topk_served(spark, sf_dir):
    """The SAME phrase-filtered BM25 top-5 as bm25_phrase_topk, but served
    ENTIRELY from stored index structures (VERDICT r3 #7,
    queryexec/wand.bm25_phrase_topk_compressed): the phrase candidates come
    from the positional index and the scores from the compressed posting
    index — both term-pruned, corpus never touched. Oracled by the
    identical corpus-side SQL, proving rank-identity of the index-served
    composition."""
    from .index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
        tokenize_tf_positions,
    )
    from .queryexec.wand import bm25_phrase_topk_compressed

    # ONE fused tokenize pass feeds both index structures — PERSISTED, or
    # every consumer (stats collect, hot-detection subtree, idx branch,
    # positions branch) re-tokenizes the corpus, the exact double-scan the
    # fused pass exists to avoid. Released before returning: the k-row
    # result is checkpointed so no persisted relation outlives the gate.
    fused = tokenize_tf_positions(_docs_as_corpus(spark, sf_dir)).persist()
    tf = fused.select("doc_id", "term", "tf")
    pos_idx = fused.select(
        "term", "doc_id", F.col("tf").alias("n_occ"), "positions"
    )
    ds = doc_stats(tf)
    cs = collection_stats(ds).collect()[0]
    idx = build_postings(
        tf,
        BuildConfig(hot_df_threshold=50, docs_per_salt=200, hot_detection_sample=1.0),
    )
    out = bm25_phrase_topk_compressed(
        spark,
        idx,
        ds,
        cs["n_docs"],
        cs["avgdl"],
        pos_idx,
        list(PHRASE),
        BM25_QUERY,
        k=5,
        round_scores=5,  # rank on rounded values, same as the oracle
    ).select("rank", "doc_id", "score")
    out = out.localCheckpoint(eager=True)
    fused.unpersist()
    return out


PROX_BOOST_WINDOW = 8


def q_bm25_proximity_topk(spark, sf_dir):
    """Proximity-RANKED retrieval (VERDICT r3 #8): BM25 over the PROX terms
    with a multiplicative proximity boost — score' = bm25 · (1 + 1/(1 +
    min_dist)) for docs whose terms co-occur within PROX_BOOST_WINDOW
    tokens, plain bm25 otherwise. The standard composed ranker (term match
    decides the candidate set, proximity sharpens the order); min_dist
    comes from the positional index's per-doc sorted occurrence array."""
    from .index.positions import build_positions, proximity_match_indexed

    scores = _bm25_scores(spark, sf_dir, list(PROX))
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    idx = build_positions(docs)
    prox = proximity_match_indexed(
        spark, idx, PROX[0], PROX[1], PROX_BOOST_WINDOW
    )
    boost = 1.0 + F.when(
        F.col("min_dist").isNotNull(), 1.0 / (1.0 + F.col("min_dist"))
    ).otherwise(0.0)
    boosted = scores.join(prox, "doc_id", "left").select(
        "doc_id", F.round(F.col("score") * boost, 5).alias("score")
    )
    return topk(boosted, 10)


SQL_BM25_PROXIMITY_TOPK = f"""
    {_bm25_sql_body(list(PROX))},
    pos AS ({_POSITIONS_SQL}),
    pa AS (SELECT doc_id, pos FROM pos WHERE term = '{PROX[0]}'),
    pb AS (SELECT doc_id, pos FROM pos WHERE term = '{PROX[1]}'),
    prox AS (
        SELECT pa.doc_id, min(abs(pa.pos - pb.pos)) AS min_dist
        FROM pa JOIN pb ON pa.doc_id = pb.doc_id
        GROUP BY pa.doc_id
        HAVING min(abs(pa.pos - pb.pos)) <= {PROX_BOOST_WINDOW}
    ),
    boosted AS (
        -- boost multiplies the UNROUNDED bm25 score (scored CTE), then one
        -- final round — same float pipeline as the engine, and ranking runs
        -- on the rounded value on both sides
        SELECT s.doc_id,
               round(s.score * (1.0 + CASE WHEN p.doc_id IS NOT NULL
                     THEN 1.0 / (1.0 + p.min_dist) ELSE 0.0 END), 5) AS score
        FROM scored s LEFT JOIN prox p ON s.doc_id = p.doc_id
    )
    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
           doc_id, score
    FROM boosted
    ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_bm25_proximity_topk_served(spark, sf_dir):
    """The SAME proximity-boosted BM25 top-10 as bm25_proximity_topk, but
    served ENTIRELY from stored index structures (VERDICT r4 #3 — the
    corpus-side gate rebuilds the positional index inline): min_dist from
    the positional index, scores from the compressed posting index, both
    derived from ONE fused tokenize pass (the corpus is scanned once at
    build time and never at query time). Oracled by the identical
    corpus-side SQL, proving rank-identity of the index-served
    composition — the proximity sibling of bm25_phrase_topk_served."""
    from .index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
        tokenize_tf_positions,
    )
    from .queryexec.wand import bm25_proximity_topk_compressed

    fused = tokenize_tf_positions(_docs_as_corpus(spark, sf_dir)).persist()
    tf = fused.select("doc_id", "term", "tf")
    pos_idx = fused.select(
        "term", "doc_id", F.col("tf").alias("n_occ"), "positions"
    )
    ds = doc_stats(tf)
    cs = collection_stats(ds).collect()[0]
    idx = build_postings(
        tf,
        BuildConfig(hot_df_threshold=50, docs_per_salt=200, hot_detection_sample=1.0),
    )
    out = bm25_proximity_topk_compressed(
        spark,
        idx,
        ds,
        cs["n_docs"],
        cs["avgdl"],
        pos_idx,
        PROX[0],
        PROX[1],
        PROX_BOOST_WINDOW,
        list(PROX),
        k=10,
        round_scores=5,  # rank on rounded values, same as the oracle
    ).select("rank", "doc_id", "score")
    out = out.localCheckpoint(eager=True)
    fused.unpersist()
    return out


PRF_N_DOCS = 5     # feedback depth
PRF_N_TERMS = 3    # expansion terms
PRF_BETA = 0.5     # Rocchio weight of expansion terms (original terms 1.0)


def q_prf_bm25_topk(spark, sf_dir):
    """Pseudo-relevance-feedback BM25 (Rocchio/RM3-lite — the composed form
    of the reference's query_expansion, data_manager.py:683-739, driven by
    the RANKER instead of PPMI): (1) BM25 top-PRF_N_DOCS for the original
    query; (2) the PRF_N_TERMS highest-tf terms across those feedback docs
    (original terms excluded, tie-break term ASC) join the query at weight
    PRF_BETA; (3) re-score with per-term weights and rank top-10. Every
    stage is deterministic and the oracle mirrors the CTE chain exactly;
    feedback-doc selection and final ranking both run on 5-decimal-rounded
    scores so near-ties cannot flip membership between engine and oracle."""
    orig = sorted(set(BM25_QUERY))
    tf = _tf(spark, sf_dir).persist()
    w1 = local_relation(spark, [(t, 1.0) for t in orig], "term string, w double")
    fb_docs = (
        _bm25_scores_weighted(tf, w1)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(PRF_N_DOCS)
        .select("doc_id")
    )
    exp_terms = (
        tf.join(F.broadcast(fb_docs), "doc_id")
        .filter(~F.col("term").isin(orig))
        .groupBy("term")
        .agg(F.sum("tf").alias("fb_tf"))
        .orderBy(F.desc("fb_tf"), F.asc("term"))
        .limit(PRF_N_TERMS)
        .select("term", F.lit(float(PRF_BETA)).alias("w"))
    )
    w2 = w1.unionByName(exp_terms)
    out = topk(_bm25_scores_weighted(tf, w2), 10)
    out = out.localCheckpoint(eager=True)
    tf.unpersist()
    return out


_PRF_ORIG = ", ".join(f"('{t}', 1.0)" for t in sorted(set(BM25_QUERY)))
_PRF_NOTIN = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY)))

SQL_PRF_BM25_TOPK = f"""
    WITH tf AS ({_TF_SQL}),
    ds AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM ds),
    w1(term, w) AS (VALUES {_PRF_ORIG}),
    s1 AS (
        SELECT cand.doc_id,
               round(sum(
                   w1.w
                   * ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                   * (cand.tf * ({K1} + 1.0))
                   / (cand.tf + {K1} * (1.0 - {B} + {B} * ds.doc_len / stats.avgdl))
               ), 5) AS score
        FROM tf cand
        JOIN w1 USING (term)
        JOIN (SELECT term, count(*) AS df FROM tf JOIN w1 USING (term) GROUP BY term) dfq
             ON cand.term = dfq.term
        JOIN ds ON cand.doc_id = ds.doc_id
        CROSS JOIN stats
        GROUP BY cand.doc_id
    ),
    fb_docs AS (
        SELECT doc_id FROM s1 ORDER BY score DESC, doc_id ASC LIMIT {PRF_N_DOCS}
    ),
    exp_terms AS (
        SELECT term, {PRF_BETA} AS w
        FROM tf JOIN fb_docs USING (doc_id)
        WHERE term NOT IN ({_PRF_NOTIN})
        GROUP BY term
        ORDER BY sum(tf) DESC, term ASC LIMIT {PRF_N_TERMS}
    ),
    w2 AS (SELECT term, w FROM w1 UNION ALL SELECT term, w FROM exp_terms),
    s2 AS (
        SELECT cand.doc_id,
               round(sum(
                   w2.w
                   * ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                   * (cand.tf * ({K1} + 1.0))
                   / (cand.tf + {K1} * (1.0 - {B} + {B} * ds.doc_len / stats.avgdl))
               ), 5) AS score
        FROM tf cand
        JOIN w2 USING (term)
        JOIN (SELECT term, count(*) AS df FROM tf JOIN w2 USING (term) GROUP BY term) dfq
             ON cand.term = dfq.term
        JOIN ds ON cand.doc_id = ds.doc_id
        CROSS JOIN stats
        GROUP BY cand.doc_id
    )
    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
           doc_id, score
    FROM s2
    ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_facet_counts(spark, sf_dir):
    """Faceted search, the counts side (queryexec/facets.py — Solr facets /
    Elasticsearch terms aggs; the reference's result page is a bare ranked
    list): for docs matching ANY BM25_QUERY term, count matching docs per
    (facet, value) over BOTH metadata dimensions (lang, source) in ONE
    stack + ONE hash aggregation — not one job per facet."""
    from .queryexec.facets import facet_counts, matched_docs

    tf = _tf(spark, sf_dir)
    terms = local_relation(spark, [(t,) for t in sorted(set(BM25_QUERY))], "term string")
    match = matched_docs(tf, terms)
    meta = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return facet_counts(match, meta, ["lang", "source"])


SQL_FACET_COUNTS = f"""
    WITH tf AS ({_TF_SQL}),
    qterms(term) AS (VALUES {", ".join(f"('{t}')" for t in sorted(set(BM25_QUERY)))}),
    match AS (SELECT DISTINCT doc_id FROM tf JOIN qterms USING (term)),
    m AS (SELECT d.lang, d.source FROM documents d JOIN match USING (doc_id))
    SELECT 'lang' AS facet, CAST(lang AS VARCHAR) AS value,
           count(*) AS n_docs
    FROM m GROUP BY lang
    UNION ALL
    SELECT 'source' AS facet, CAST(source AS VARCHAR) AS value,
           count(*) AS n_docs
    FROM m GROUP BY source
"""

FACET_DRILL = ("lang", "en")


def q_bm25_topk_faceted(spark, sf_dir):
    """Faceted search, the drill-down side: BM25 top-5 WITHIN facet
    lang='en' — the filter every result page applies when a facet value is
    clicked. The facet filter semi-joins the scored relation (scoring work
    pruned to the facet's docs before top-k); ranking runs on 5-decimal-
    rounded scores on both sides (filtered membership makes near-ties
    rank-relevant)."""
    scores = _bm25_scores(spark, sf_dir, BM25_QUERY)
    facet_docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col(FACET_DRILL[0]) == FACET_DRILL[1])
        .select("doc_id")
    )
    filtered = scores.join(facet_docs, "doc_id", "left_semi").select(
        "doc_id", F.round("score", 5).alias("score")
    )
    return topk(filtered, 5)


SQL_BM25_TOPK_FACETED = f"""
    WITH scored_all AS ({_bm25_sql(BM25_QUERY, with_topk=False)})
    SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
           doc_id, score
    FROM (
        SELECT s.doc_id, round(s.score, 5) AS score
        FROM scored_all s
        JOIN documents d ON s.doc_id = d.doc_id
        WHERE d.{FACET_DRILL[0]} = '{FACET_DRILL[1]}'
    )
    ORDER BY score DESC, doc_id ASC LIMIT 5
"""


def q_bm25_topk_faceted_served(spark, sf_dir):
    """The SAME facet drill-down top-5 as bm25_topk_faceted, but scored
    from the stored compressed index (the facet sibling of the served
    phrase/proximity gates): the facet filter is a metadata predicate
    pushed to the documents parquet scan (doc_id + facet columns only),
    passed as candidate_docs into the compressed scorer — index
    bucket-pruned, corpus text never read. Oracled by the identical
    corpus-side SQL, proving the served composition rank-identical."""
    from .index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        doc_stats,
        tokenize_tf,
    )
    from .queryexec.wand import bm25_topk_compressed

    tf = tokenize_tf(_docs_as_corpus(spark, sf_dir))
    ds = doc_stats(tf).cache()
    cs = collection_stats(ds).collect()[0]
    idx = build_postings(
        tf,
        BuildConfig(hot_df_threshold=50, docs_per_salt=200, hot_detection_sample=1.0),
    )
    facet_docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col(FACET_DRILL[0]) == FACET_DRILL[1])
        .select("doc_id")
    )
    out = bm25_topk_compressed(
        spark,
        idx,
        ds,
        cs["n_docs"],
        cs["avgdl"],
        BM25_QUERY,
        k=5,
        candidate_docs=facet_docs,
        round_scores=5,  # rank on rounded values, same as the oracle
    ).select("rank", "doc_id", "score")
    out = out.localCheckpoint(eager=True)
    ds.unpersist()
    return out


# Registration ORDER is part of the driver contract: the correctness gate
# hashes the FIRST 50 entries in registration order. Round-6 policy
# (VERDICT r5 #4, now standing): any gate whose implementation changed
# since its last driver hash re-enters the first-50; the rest of the
# window is filled with the longest-unhashed entries. This round the
# optimization pass touched THE WHOLE tf/shingle/serving substrate, so the
# window leads with the 38 changed gates: every _tf consumer (the
# mapInArrow tokenizer replaced the native explode+groupBy), every
# _shingles/minhash consumer (in-row shingle arrays + array_min
# signatures + single-explode banding), token_stats/doc_quality (tf-based
# stats), and every compressed-serving consumer (fused single-action
# block-max, df-emitting decode, batch pruning). The fill slots are the
# 8 gates last hashed in r03/r04 and untouched since, then the first 4
# gates hashed in r5 (retiring the 15 TPC-H/event gates shifted those
# into the window). All entries are green via
# tools/check_contract.py regardless of position.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- changed in round 6: tf substrate (mapInArrow tokenizer) ---
    "tf_pairs": q_tf_pairs,
    "term_df": q_term_df,
    "doc_stats": q_doc_stats,
    "collection_stats": q_collection_stats,
    "bm25_scores": q_bm25_scores,
    "bm25_topk": q_bm25_topk,
    "tfidf_cosine": q_tfidf_cosine,
    "token_stats": q_token_stats,
    "doc_quality": q_doc_quality,
    "laplace_lm": q_laplace_lm,
    "more_like_this": q_more_like_this,
    "boolean_or_not_docs": q_boolean_or_not_docs,
    "merged_index_df": q_merged_index_df,
    "deleted_index_df": q_deleted_index_df,
    "ql_dirichlet_topk": q_ql_dirichlet_topk,
    "hybrid_rrf_topk": q_hybrid_rrf_topk,
    "fuzzy_term_docs": q_fuzzy_term_docs,
    "prefix_match_docs": q_prefix_match_docs,
    "bm25_topk_batch": q_bm25_topk_batch,
    "prf_bm25_topk": q_prf_bm25_topk,
    "facet_counts": q_facet_counts,
    "bm25_search_after": q_bm25_search_after,
    "bm25_page3": q_bm25_page3,
    "target_doc_threshold": q_target_doc_threshold,
    "bm25_boosted_topk": q_bm25_boosted_topk,
    "bm25_phrase_topk": q_bm25_phrase_topk,
    "bm25_proximity_topk": q_bm25_proximity_topk,
    "bm25_topk_faceted": q_bm25_topk_faceted,
    # --- changed in round 6: shingle/minhash substrate ---
    "minhash_signatures": q_minhash_signatures,
    "minhash_band_pairs": q_minhash_band_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "kmv_sketch": q_kmv_sketch,
    "dup_clusters": q_dup_clusters,
    # --- changed in round 6: fused compressed serving ---
    "bm25_topk_compressed": q_bm25_topk_compressed,
    "bm25_topk_batch_served": q_bm25_topk_batch_served,
    "bm25_phrase_topk_served": q_bm25_phrase_topk_served,
    "bm25_proximity_topk_served": q_bm25_proximity_topk_served,
    "bm25_topk_faceted_served": q_bm25_topk_faceted_served,
    # --- unchanged, longest-unhashed (last driver hash r03/r04) ---
    "skipgram_counts": q_skipgram_counts,
    "ppmi": q_ppmi,
    "pr_curve": q_pr_curve,
    "avg_precision": q_avg_precision,
    "lang_distribution": q_lang_distribution,
    "compressed_term_df": q_compressed_term_df,
    "bm25_topk_sharded": q_bm25_topk_sharded,
    "simhash_fingerprints": q_simhash_fingerprints,
    # --- hashed r5 and unchanged since ---
    "simhash16": q_simhash16,
    "ann_ivf_topk": q_ann_ivf_topk,
    "top_cooccurring": q_top_cooccurring,
    "phrase_match_docs": q_phrase_match_docs,
    # ---------------- outside the 50-query hash window ----------------
    "phrase_match_indexed": q_phrase_match_indexed,
    "snippets": q_snippets,
    "proximity_match": q_proximity_match,
    "dedup_exact": q_dedup_exact,
    "doc_fingerprint": q_doc_fingerprint,
    "cosine_scores": q_cosine_scores,
    "bigram_counts": q_bigram_counts,
    # driver-hashed r03/r04, unchanged, replica-verified every round
    "ann_lsh_topk": q_ann_lsh_topk,
    "emb_near_dup_pairs": q_emb_near_dup_pairs,
    "boolean_and_docs": q_boolean_and_docs,
    "ann_ivf_topk_fixed": q_ann_ivf_topk_fixed,
    "lang_id": q_lang_id,
    "token_counts": q_token_counts,
    "jm_smoothing": q_jm_smoothing,
    "top_doc_per_lang": q_top_doc_per_lang,
    "perplexity": q_perplexity,
    "tf_pairs_ws": q_tf_pairs_ws,
    "query_term_overlap": q_query_term_overlap,
    # rows-only perf variant — no DuckDB xxhash64, so no value oracle
    # exists; keeping it out of the window preserves oracled coverage there
    "minhash_band_pairs_fast": q_minhash_band_pairs_fast,
}

ORACLE_SQL: dict[str, str] = {
    "tf_pairs": SQL_TF_PAIRS,
    "term_df": SQL_TERM_DF,
    "doc_stats": SQL_DOC_STATS,
    "collection_stats": SQL_COLLECTION_STATS,
    "bm25_scores": SQL_BM25_SCORES,
    "bm25_topk": SQL_BM25_TOPK,
    "tfidf_cosine": SQL_TFIDF_COSINE,
    "dedup_exact": SQL_DEDUP_EXACT,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "minhash_band_pairs": SQL_MINHASH_BAND_PAIRS,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "token_stats": SQL_TOKEN_STATS,
    "doc_quality": SQL_DOC_QUALITY,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "cosine_scores": SQL_COSINE_SCORES,
    "bigram_counts": SQL_BIGRAM_COUNTS,
    "skipgram_counts": SQL_SKIPGRAM_COUNTS,
    "laplace_lm": SQL_LAPLACE_LM,
    "ppmi": SQL_PPMI,
    "pr_curve": SQL_PR_CURVE,
    "avg_precision": SQL_AVG_PRECISION,
    "lang_distribution": SQL_LANG_DISTRIBUTION,
    "compressed_term_df": SQL_TERM_DF,
    "bm25_topk_compressed": SQL_BM25_TOPK,
    "bm25_topk_sharded": SQL_BM25_TOPK,
    "token_counts": SQL_TOKEN_COUNTS,
    "jm_smoothing": SQL_JM_SMOOTHING,
    "target_doc_threshold": SQL_TARGET_DOC_THRESHOLD,
    "top_doc_per_lang": SQL_TOP_DOC_PER_LANG,
    "perplexity": SQL_PERPLEXITY,
    "tf_pairs_ws": SQL_TF_PAIRS_WS,
    "query_term_overlap": SQL_QUERY_TERM_OVERLAP,
    "lang_id": SQL_LANG_ID,
    "ann_lsh_topk": SQL_ANN_LSH_TOPK,
    "emb_near_dup_pairs": SQL_EMB_NEAR_DUP_PAIRS,
    "boolean_and_docs": SQL_BOOLEAN_AND_DOCS,
    "ann_ivf_topk_fixed": SQL_ANN_IVF_TOPK_FIXED,
    "merged_index_df": SQL_MERGED_INDEX_DF,
    "deleted_index_df": SQL_DELETED_INDEX_DF,
    "simhash16": SQL_SIMHASH16,
    "kmv_sketch": SQL_KMV_SKETCH,
    "top_cooccurring": SQL_TOP_COOCCURRING,
    "simhash_fingerprints": SQL_SIMHASH_FINGERPRINTS,
    "bm25_topk_batch": SQL_BM25_TOPK_BATCH,
    "phrase_match_docs": SQL_PHRASE_MATCH_DOCS,
    "phrase_match_indexed": SQL_PHRASE_MATCH_DOCS,
    "dup_clusters": SQL_DUP_CLUSTERS,
    "snippets": SQL_SNIPPETS,
    "proximity_match": SQL_PROXIMITY_MATCH,
    "bm25_phrase_topk": SQL_BM25_PHRASE_TOPK,
    "bm25_phrase_topk_served": SQL_BM25_PHRASE_TOPK,
    "bm25_proximity_topk": SQL_BM25_PROXIMITY_TOPK,
    # served forms answer the SAME question from stored indexes — identical
    # corpus-side oracles prove the compositions rank-identical
    "bm25_proximity_topk_served": SQL_BM25_PROXIMITY_TOPK,
    "bm25_topk_faceted_served": SQL_BM25_TOPK_FACETED,
    "bm25_topk_batch_served": SQL_BM25_TOPK_BATCH_SERVED,
    "fuzzy_term_docs": SQL_FUZZY_TERM_DOCS,
    "prefix_match_docs": SQL_PREFIX_MATCH_DOCS,
    "ql_dirichlet_topk": SQL_QL_DIRICHLET_TOPK,
    "hybrid_rrf_topk": SQL_HYBRID_RRF_TOPK,
    "bm25_boosted_topk": SQL_BM25_BOOSTED_TOPK,
    "prf_bm25_topk": SQL_PRF_BM25_TOPK,
    "facet_counts": SQL_FACET_COUNTS,
    "bm25_topk_faceted": SQL_BM25_TOPK_FACETED,
    "boolean_or_not_docs": SQL_BOOLEAN_OR_NOT_DOCS,
    "more_like_this": SQL_MORE_LIKE_THIS,
    "bm25_search_after": SQL_BM25_SEARCH_AFTER,
    "bm25_page3": SQL_BM25_PAGE3,
    # ann_ivf_topk: intentionally no oracle (iterative k-means quantizer is
    # engine-internal, not ANSI-SQL) → driver records a rows-only check.
}
