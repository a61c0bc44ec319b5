"""Tests for dedup / similarity / textstats modules."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from information_retrieval_project_spark.dedup.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
    simhash_near_dup_pairs,
)
from information_retrieval_project_spark.similarity.ann import (
    brute_force_cosine_topk,
    hyperplanes,
    lsh_bucketed_topk,
    lsh_near_dup_pairs,
    rp_lsh_buckets,
)
from information_retrieval_project_spark.textstats.textstats import (
    doc_fingerprints,
    language_id,
    quality_scores,
    token_counts,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "def parse_config return import class handle_request stream buffer"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base + " extra_token_x"),                # near dup of 1
        (4, "completely different words entirely unrelated content here ok"),
        (5, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    return spark.createDataFrame(rows, "doc_id long, content string")


def test_exact_dedup(docs):
    out = {r["content_hash"]: r for r in exact_dedup(docs).collect()}
    assert any(r["n_copies"] == 2 and r["keeper"] == 1 for r in out.values())
    assert sum(r["n_copies"] for r in out.values()) == 5


def test_minhash_pipeline_finds_near_dups(docs):
    sh = shingles(docs)
    sig = minhash_signatures(sh, n_hashes=16)
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(sig).collect()}
    assert (1, 2) in pairs           # identical docs always collide
    assert (1, 4) not in pairs and (1, 5) not in pairs


def test_hot_key_caps_bound_pathological_fanout(spark):
    """Skew guard (VERDICT r1 #7): a corpus where EVERY doc shares one
    boilerplate shingle must not go quadratic — capped variants complete
    with bounded pair counts, and a cap ≥ corpus size reproduces the
    uncapped result exactly."""
    n = 40
    boiler = "copyright acme corp all rights reserved"
    rows = [(i, f"{boiler} unique_{i} filler_{i} token_{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    sh = shingles(docs)

    # the boilerplate shingles hit all 40 docs -> excluded at max_df=10
    capped = ngram_jaccard_pairs(sh, threshold=0.0, max_df=10).collect()
    uncapped = ngram_jaccard_pairs(sh, threshold=0.0, max_df=10_000).collect()
    assert len(uncapped) == n * (n - 1) // 2   # every pair shares boilerplate
    assert len(capped) == 0                    # hot shingles contribute nothing

    # minhash: signatures dominated by the shared shingles -> one hot bucket;
    # the guard drops it, and a large cap restores the uncapped result
    sig = minhash_signatures(sh, n_hashes=16)
    hot = minhash_lsh_pairs(sig, max_bucket=10).count()
    full = minhash_lsh_pairs(sig, max_bucket=10_000).count()
    assert hot <= full

    # simhash pigeonhole blocks: same guard shape (candidates = pairs
    # sharing >=1 of the 4 16-bit blocks; boilerplate-dominated prints
    # collide on blocks, so the corpus produces candidates)
    sim = simhash64(docs)
    hot_s = simhash_near_dup_pairs(sim, max_hamming=63, max_bucket=10).count()
    full_s = simhash_near_dup_pairs(sim, max_hamming=63, max_bucket=10_000).count()
    assert hot_s <= full_s
    assert full_s > 0


def test_ngram_jaccard_exact(docs):
    sh = shingles(docs)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(sh, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 4) not in pairs


def test_simhash_near_dups(spark, docs):
    sim = simhash64(docs)
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert vals[1] == vals[2]  # identical content → identical fingerprint
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(sim, max_hamming=16).collect()
    }
    assert pairs[(1, 2)] == 0
    # near-dup 3 should be close to 1; unrelated 4 should not be within 16
    assert (1, 4) not in pairs or pairs[(1, 4)] > pairs.get((1, 3), 64)


def test_lsh_near_dup_pairs_finds_planted_dup(spark):
    """A planted near-identical vector shares all plane signs with its
    original (hamming-0 bucket) → the pair surfaces; cosine is exact."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16))
    vecs = [v for v in base] + [base[0] + 0.01 * rng.standard_normal(16)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    planes = hyperplanes(16, n_planes=4, seed=1)
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in lsh_near_dup_pairs(df, planes, tau=0.9).collect()
    }
    assert (0, 40) in pairs and pairs[(0, 40)] > 0.99
    # candidate generation is bucket-equi-join, never cross: a tiny
    # max_bucket drops the whole space → no pairs, still completes
    assert lsh_near_dup_pairs(df, planes, tau=0.0, max_bucket=1).count() == 0


def test_brute_force_cosine_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = rng.standard_normal(8)
    got = brute_force_cosine_topk(df, q.tolist(), k=5).collect()
    v64 = vecs.astype(np.float64)
    sims = v64 @ q / (np.linalg.norm(v64, axis=1) * np.linalg.norm(q))
    want = np.argsort(-sims)[:5].tolist()
    assert [r["vec_id"] for r in got] == want
    for r in got:
        assert abs(r["cosine"] - sims[r["vec_id"]]) < 1e-6


def test_lsh_bucketed_topk_recalls_top1(spark):
    rng = np.random.default_rng(4)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    planes = hyperplanes(16, n_planes=6, seed=1)
    bucketed = rp_lsh_buckets(df, planes).cache()
    q = vecs[17].astype(np.float64)  # query = an existing vector
    got = lsh_bucketed_topk(bucketed, planes, q.tolist(), k=3, probe_hamming=1).collect()
    assert got and got[0]["vec_id"] == 17  # its own bucket always probed
    assert got[0]["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "hello world, this is a test!!! 123")],
        "doc_id long, content string",
    )
    r = token_counts(df).collect()[0]
    assert r["ws_tokens"] == 7
    assert r["bpe_ish_tokens"] == 11  # hello world , this is a test !!! 123
    q = quality_scores(df).collect()[0]
    assert q["n_tokens"] == 7
    assert 0 < q["punct_ratio"] < 0.3
    assert q["stopword_ratio"] > 0.2  # this/is/a


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in that house"),
            (2, "el perro y la casa de los gatos una vez"),
            (3, "der hund und die katze ist nicht ein problem"),
        ],
        "doc_id long, content string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "de"}


def test_doc_fingerprints_stability(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha  beta,,, gamma!!")],
        "doc_id long, content string",
    )
    rows = {r["doc_id"]: r for r in doc_fingerprints(df).collect()}
    assert rows[1]["exact_fp"] != rows[2]["exact_fp"]
    assert rows[1]["token_set_fp"] == rows[2]["token_set_fp"]  # norm-stable


def test_ivf_ann_recall_and_exactness_in_probed_buckets(spark):
    import numpy as np
    from information_retrieval_project_spark.similarity.ann import (
        ivf_assign,
        ivf_topk,
        ivf_train_centroids,
    )

    rng = np.random.default_rng(11)
    # clustered data so IVF has structure to find
    centers = rng.standard_normal((4, 8)) * 5
    vecs = np.vstack([c + rng.standard_normal((60, 8)) for c in centers]).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cent = ivf_train_centroids(df, n_centroids=4, iters=5)
    assigned = ivf_assign(df, cent).cache()
    # every vector gets exactly one bucket in range
    rows = assigned.collect()
    assert all(0 <= r["ivf_bucket"] < 4 for r in rows)
    # query = an existing vector; its own bucket is always probed first
    q = vecs[7].astype(np.float64)
    got = ivf_topk(assigned, cent, q.tolist(), k=5, nprobe=2).collect()
    assert got[0]["vec_id"] == 7
    assert abs(got[0]["cosine"] - 1.0) < 1e-6
    # with nprobe == n_centroids IVF == brute force exactly
    from information_retrieval_project_spark.similarity.ann import (
        brute_force_cosine_topk,
    )

    full = ivf_topk(assigned, cent, q.tolist(), k=10, nprobe=4).collect()
    brute = brute_force_cosine_topk(df, q.tolist(), k=10).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in brute]


def test_kmv_estimate_accuracy(spark):
    from information_retrieval_project_spark.textstats.sketches import (
        kmv_estimate,
        kmv_state,
    )

    n = 5000
    df = spark.range(n).select(F.concat(F.lit("item_"), F.col("id")).alias("v"))
    st = kmv_state(df, "v", k=256)
    est = kmv_estimate(st, k=256)
    assert abs(est - n) / n < 0.2  # KMV stderr ~ 1/sqrt(k) ≈ 6%
    # fewer than k distinct → exact
    small = spark.range(40).select(F.concat(F.lit("x"), F.col("id")).alias("v"))
    assert kmv_estimate(kmv_state(small, "v", k=64), k=64) == 40.0


def test_caps_opt_in_and_truncation_observable(spark):
    """ADVICE r2: public pair generators default to exact (caps=None), and
    bucket_cap_stats reports exactly what an enabled cap would drop."""
    from information_retrieval_project_spark.dedup import bucket_cap_stats

    n = 30
    boiler = "copyright acme corp all rights reserved"
    rows = [(i, f"{boiler} unique_{i} filler_{i} token_{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    sh = shingles(docs)

    # default (no cap) == explicit huge cap == exact result
    default_pairs = ngram_jaccard_pairs(sh, threshold=0.0).count()
    huge_cap_pairs = ngram_jaccard_pairs(sh, threshold=0.0, max_df=10**6).count()
    assert default_pairs == huge_cap_pairs == n * (n - 1) // 2

    sig = minhash_signatures(sh, n_hashes=16)
    assert minhash_lsh_pairs(sig).count() == minhash_lsh_pairs(
        sig, max_bucket=10**6
    ).count()

    # the stats relation quantifies the truncation a cap of 10 would apply
    st = bucket_cap_stats(sh, ["shingle"], 10).collect()[0]
    assert st["dropped_buckets"] > 0
    assert st["dropped_rows"] >= st["dropped_buckets"]
    assert st["max_bucket_size"] == n  # the boilerplate shingles hit all docs
    st_loose = bucket_cap_stats(sh, ["shingle"], n).collect()[0]
    assert st_loose["dropped_buckets"] == 0 and st_loose["dropped_rows"] == 0


def test_connected_components_clusters(spark):
    """Min-label propagation: chains, cliques, singletons, and transitive
    closure (a-b, b-c => a,b,c one cluster even if (a,c) was never a pair)."""
    from information_retrieval_project_spark.dedup.clusters import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (5, 6), (5, 7), (6, 7),      # triangle 5-6-7
         (8, 9)],                     # pair; 0 is a singleton
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["cluster"]
        for r in connected_components(nodes, pairs).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8, 9: 8}


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iter must raise, not return silently-wrong clusters."""
    import pytest

    from information_retrieval_project_spark.dedup.clusters import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, chain, max_iter=1)
    # and enough rounds converges to one cluster
    got = {
        r["cluster"]
        for r in connected_components(nodes, chain, max_iter=10).collect()
    }
    assert got == {0}


def test_facet_counts_quoted_identifiers_and_validation(spark):
    """Facet columns with spaces/reserved characters must work (backtick
    quoting in the stack() expression, ADVICE r4), and an unknown facet
    column must fail loudly before any job runs."""
    import pytest

    from information_retrieval_project_spark.queryexec.facets import (
        facet_counts,
    )

    meta = spark.createDataFrame(
        [(1, "en", "a", "x"), (2, "en", "b", "y"), (3, "de", "a", "x")],
        ["doc_id", "lang name", "select", "back\\slash"],  # hostile names
    )
    match = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    got = {
        (r["facet"], r["value"]): r["n_docs"]
        for r in facet_counts(
            match, meta, ["lang name", "select", "back\\slash"]
        ).collect()
    }
    assert got == {
        ("lang name", "en"): 2,
        ("lang name", "de"): 1,
        ("select", "a"): 2,
        ("select", "b"): 1,
        ("back\\slash", "x"): 2,
        ("back\\slash", "y"): 1,
    }

    with pytest.raises(ValueError, match="not in docs_meta"):
        facet_counts(match, meta, ["nope"])


def test_minhash_fast_variant_recalls_exact_duplicates(spark):
    """The xxhash64 engine variant (minhash_band_pairs_fast) has no SQL
    oracle (DuckDB lacks xxhash64), so pin its semantics here: documents
    with IDENTICAL shingle sets minhash identically under ANY hash family,
    so planted exact-duplicate pairs must be recalled by BOTH the md5
    (oracle-parity) and xxhash64 signature pipelines, under the gate's
    shared 8-hash 4-band x 2-row configuration + bucket cap."""
    import random

    from information_retrieval_project_spark.dedup.dedup import (
        cap_buckets,
        minhash_lsh_pairs,
        minhash_signatures,
        shingles,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(30):
        text = " ".join(rng.choice(vocab) for _ in range(40))
        rows.append((2 * i, text))
        if i < 6:
            rows.append((2 * i + 1, text))  # planted exact duplicate
        else:
            rows.append(
                (2 * i + 1, " ".join(rng.choice(vocab) for _ in range(40)))
            )
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    planted = {(2 * i, 2 * i + 1) for i in range(6)}
    sh = shingles(docs)

    # fast path (the q_minhash_band_pairs_fast pipeline)
    fast = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            minhash_signatures(sh, n_hashes=8),
            n_bands=4,
            rows_per_band=2,
            max_bucket=1000,
        ).collect()
    }
    # md5 oracle-parity path (the q_minhash_band_pairs pipeline)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}_"), F.col("shingle")))).alias(f"h{i}")
        for i in range(8)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    bands = None
    for bidx in range(4):
        bcols = [F.col(f"h{2 * bidx + r}") for r in range(2)]
        bdf = sig.select(
            "doc_id", F.lit(bidx).alias("band"), F.concat(*bcols).alias("key")
        )
        bands = bdf if bands is None else bands.unionByName(bdf)
    bands = cap_buckets(bands, ["band", "key"], 1000)
    a, b = bands.alias("a"), bands.alias("b")
    md5 = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .collect()
    }
    assert planted <= fast
    assert planted <= md5
