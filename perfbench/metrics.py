"""Every metric the benchmark reports: unit, direction, and for per-layer
metrics the workload that measures it and the end-to-end metric it moves.

BENCHMARK.json lists the same names; ``tests/test_selftest.py`` checks that
the two agree. Per-layer metrics a workload does not exercise are reported
as 0 on that workload.
"""

from __future__ import annotations

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "index_bytes_per_input_byte": ("ratio", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# name -> (unit, better, workload that measures it, what it moves)
PER_LAYER = {
    "session.start_s": ("s", "lower", "build,serve", "setup_s"),
    "index.build.tokenize_s": ("s", "lower", "build", "op_p50_s, throughput_per_s on build"),
    "index.build.tf_rows": ("count", "lower", "build", "op_p50_s, throughput_per_s on build"),
    "index.build.hot_terms": ("count", "lower", "build", "op_p50_s, throughput_per_s on build"),
    "index.build.postings_write_s": ("s", "lower", "build", "op_p50_s on build; streaming.incremental.update_s"),
    "index.build.index_rows": ("count", "lower", "build", "throughput_per_s on build"),
    "index.build.bytes_written": ("bytes", "lower", "build", "index_bytes_per_input_byte on build"),
    "index.build.scaling_eff_1_to_4": ("ratio", "higher", "build", "throughput_per_s on build"),
    "index.codec.encode_mb_per_s": ("MB/s", "higher", "build,serve", "op_p50_s on build"),
    "index.codec.bytes_per_posting": ("bytes", "lower", "build,serve", "index_bytes_per_input_byte"),
    "index.codec.decode_mb_per_s": ("MB/s", "higher", "build,serve", "throughput_per_s on serve"),
    "index.bucketing.prune_s": ("s", "lower", "serve", "op_p50_s on serve"),
    "index.bucketing.buckets_per_query": ("count", "lower", "serve", "op_p50_s on serve"),
    "queryexec.wand.jobs_per_query": ("count", "lower", "serve", "op_p50_s on serve"),
    "queryexec.wand.stages_per_query": ("count", "lower", "serve", "op_p50_s on serve"),
    "queryexec.wand.tasks_per_query": ("count", "lower", "serve", "op_p50_s on serve"),
    "queryexec.wand.busy_s_per_query": ("s", "lower", "serve", "op_p50_s on serve"),
    "queryexec.wand.wait_frac": ("ratio", "lower", "serve", "op_p50_s on serve"),
    "queryexec.wand.postings_decoded_per_query": ("count", "lower", "serve", "throughput_per_s on serve"),
    "queryexec.wand.blocks_kept_ratio": ("ratio", "lower", "serve", "throughput_per_s on serve"),
    "queryexec.wand.input_bytes_per_query": ("bytes", "lower", "serve", "throughput_per_s on serve"),
    "queryexec.wand.shuffle_bytes_per_query": ("bytes", "lower", "serve", "throughput_per_s on serve"),
    "queryexec.wand.batch_busy_s_per_query": ("s", "lower", "serve", "throughput_per_s on serve"),
    "streaming.incremental.update_s": ("s", "lower", "serve", "(update latency; no end-to-end bound)"),
    "streaming.incremental.busy_s": ("s", "lower", "serve", "streaming.incremental.update_s"),
    "streaming.incremental.jobs_per_update": ("count", "lower", "serve", "streaming.incremental.update_s"),
    "streaming.incremental.query_s": ("s", "lower", "serve", "(merged-layout query latency)"),
    "streaming.incremental.bytes_written_per_delta_byte": ("ratio", "lower", "serve", "streaming.incremental.update_s"),
    "index.positions.bytes_written_per_delta_byte": ("ratio", "lower", "serve", "streaming.incremental.update_s"),
    "spark.failed_tasks": ("count", "lower", "build,serve", "op_p50_s"),
    "spark.spill_bytes": ("bytes", "lower", "build,serve", "op_p50_s"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "build,serve", "op_p50_s, throughput_per_s"),
    "trace.overhead_frac": ("ratio", "lower", "build,serve", "(traced vs untraced op_p50_s in one run)"),
}


def emit(values: dict, table: dict) -> dict:
    """{'name': {'value': v, 'unit': u}} for every name in ``table``;
    names the workload did not measure get 0."""
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": spec[0]}
        for name, spec in table.items()
    }
