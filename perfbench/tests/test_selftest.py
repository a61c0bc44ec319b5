"""Self-test of the benchmark at a tiny seed.

    python3 -m pytest perfbench/tests -q

Checks that BENCHMARK.json and perfbench/metrics.py name the same metrics,
that the reference scorer agrees with the package's oracle, that every
metric is emitted with its unit in untraced and traced runs, and that a
deliberately corrupted top-k result is counted as a failed operation.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics  # noqa: E402
from perfbench.reference import Reference, topk_matches  # noqa: E402
from perfbench.run import execute  # noqa: E402
from perfbench.workloads import TINY  # noqa: E402


def test_benchmark_json_names_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert e2e == dict(metrics.END_TO_END)
    assert layers == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    assert {w["name"] for w in bench["workloads"]} == {"build", "serve"}


def test_reference_agrees_with_oracle_and_rejects_corruption():
    from information_retrieval_project_spark.oracle.oracle import oracle_bm25_topk

    vocab = gen.make_vocab(500)
    docs = gen.make_docs(5, 0, 60, vocab)
    ref = Reference()
    ref.add(range(len(docs)), docs.tokens)
    corpus = dict(enumerate(docs.content))
    for q in gen.make_queries(5, 0, 8, vocab):
        want = oracle_bm25_topk(corpus, " ".join(q), k=10)
        assert topk_matches(want, ref.scores(q), 10), q
        if want:
            bad = [(want[0][0], want[0][1] + 1e-6)] + want[1:]
            assert not topk_matches(bad, ref.scores(q), 10)
            assert not topk_matches(want[:-1], ref.scores(q), 10)


def _assert_all(result: dict, table: dict) -> None:
    assert set(result["metrics"]) == set(table)
    for name, m in result["metrics"].items():
        assert m["unit"] == table[name][0], name
        assert isinstance(m["value"], float), name


def test_tiny_runs_emit_every_metric_and_count_a_corrupted_result():
    clean = execute("serve", 1, 1.0, False, sizes=TINY)
    assert clean["correct"] and clean["failed"] == 0 and clean["attempted"] > 0
    _assert_all(clean, metrics.END_TO_END)
    assert all(m["value"] > 0 for m in clean["metrics"].values())

    corrupted = {"done": False}

    def corrupt_first(got):
        if got and not corrupted["done"]:
            corrupted["done"] = True
            return [(got[0][0], got[0][1] + 0.5)] + got[1:]
        return got

    bad = execute("serve", 1, 1.0, False, sizes=TINY, mutate=corrupt_first)
    assert corrupted["done"]
    assert bad["failed"] == 1 and not bad["correct"]

    for workload in ("build", "serve"):
        traced = execute(workload, 1, 1.0, True, sizes=TINY)
        assert traced["correct"], workload
        _assert_all(traced, metrics.PER_LAYER)
