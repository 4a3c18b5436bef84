"""Metrics of one run, computed from the timed rounds' ops.

``END_TO_END`` and ``PER_LAYER`` name every metric with its unit; they
match ``BENCHMARK.json``. An end-to-end metric means the same thing on
each workload, measured on that workload's own ops (see README.md).
A per-layer metric of a layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics

from probe import SparkCounters

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "round_p50_s": "s",
}

#: layers whose self time (span time no child span covers) is reported
SELF_TIME_LAYERS = (
    "plans", "spark", "pipeline", "operators.iterate", "sources.tables",
    "sources.sinks", "sources.cdc", "sources.ivm", "sources.ivm_join",
    "functions", "session",
)

PER_LAYER = {
    "plans.build_s_p50": "s",
    "plans.execute_s_p50": "s",
    "pipeline.builder_query_s_p50": "s",
    "operators.p8_cycle_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.exec_run_s_per_op": "s",
    "spark.exec_cpu_s_per_op": "s",
    "spark.core_busy_share": "share",
    "spark.input_bytes_per_op": "bytes",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.failed_tasks": "count",
    "sinks.mor_upsert_s_p50": "s",
    "sinks.read_manifest_table_s_p50": "s",
    "sinks.compact_small_files_s": "s",
    "sinks.bytes_written_per_commit": "bytes",
    "sinks.space_amp": "ratio",
    "cdc.mor_changes_s_p50": "s",
    "cdc.mor_changes_jobs": "count",
    "ivm.refresh_agg_view_s_p50": "s",
    "ivm.refresh_agg_view_jobs": "count",
    "ivm_join.refresh_join_view_s_p50": "s",
    "ivm_join.refresh_join_view_jobs": "count",
    "ivm.read_view_s_p50": "s",
    "ivm.incremental_share": "share",
    "similarity.cosine_top1_s_p50": "s",
    "dedup.simhash_pairs_s_p50": "s",
    "dedup.simhash_pairs_jobs": "count",
    **{f"self.{layer}.s_per_op": "s" for layer in SELF_TIME_LAYERS},
    "trace.op_p50_s": "s",
    "trace.overhead_share": "share",
}

BUILDER_QUERIES = ("p5_fan_in", "b1_builder_route", "b2_flatten_positions")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _value(metrics: dict, units: dict) -> dict:
    return {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}


def end_to_end(w, setup_s: float) -> dict:
    ops = [o for o in w.ops if o.timed]
    secs = [o.seconds for o in ops]
    return _value({
        "setup_s": setup_s,
        "op_p50_s": _median(secs),
        "round_p50_s": _median(w.rounds),
    }, END_TO_END)


def per_layer(w, tracer, cores: int) -> dict:
    ops = [o for o in w.ops if o.timed]
    busy = sum(o.seconds for o in ops)

    def secs(*names):
        return [o.seconds for o in ops if o.name in names]

    def jobs(name):
        return _median(o.info["counters"]["jobs"] for o in ops if o.name == name)

    tot = dict.fromkeys(SparkCounters.FIELDS, 0)
    for o in ops:
        for k in tot:
            tot[k] += o.info["counters"][k]
    n = len(ops)
    self_t = tracer.self_times({o.info["trace_op"] for o in ops})
    m = {
        "plans.build_s_p50": _median(o.build_s for o in ops if o.build_s is not None),
        "plans.execute_s_p50": _median(o.exec_s for o in ops if o.exec_s is not None),
        "pipeline.builder_query_s_p50": _median(secs(*BUILDER_QUERIES)),
        "operators.p8_cycle_s": _median(secs("p8_cycle")),
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.exec_run_s_per_op": tot["exec_run_s"] / n,
        "spark.exec_cpu_s_per_op": tot["exec_cpu_s"] / n,
        "spark.core_busy_share": tot["exec_run_s"] / (busy * cores),
        "spark.input_bytes_per_op": tot["input_bytes"] / n,
        "spark.shuffle_bytes_per_op": tot["shuffle_bytes"] / n,
        "spark.failed_tasks": tot["failed_tasks"],
        "sinks.mor_upsert_s_p50": _median(secs("mor_upsert")),
        "sinks.read_manifest_table_s_p50": _median(secs("read_manifest_table")),
        "sinks.compact_small_files_s": _median(secs("compact_small_files")),
        "sinks.bytes_written_per_commit": _median(
            o.info["bytes"] for o in ops if "bytes" in o.info
        ),
        "sinks.space_amp": _median(o.info["space_amp"] for o in ops if "space_amp" in o.info),
        "cdc.mor_changes_s_p50": _median(secs("mor_changes")),
        "cdc.mor_changes_jobs": jobs("mor_changes"),
        "ivm.refresh_agg_view_s_p50": _median(secs("refresh_agg_view")),
        "ivm.refresh_agg_view_jobs": jobs("refresh_agg_view"),
        "ivm_join.refresh_join_view_s_p50": _median(secs("refresh_join_view")),
        "ivm_join.refresh_join_view_jobs": jobs("refresh_join_view"),
        "ivm.read_view_s_p50": _median(secs("read_agg_view", "read_join_view")),
        "ivm.incremental_share": _share(
            o.info.get("mode") == "incremental" for o in ops if "mode" in o.info
        ),
        "similarity.cosine_top1_s_p50": _median(secs("x2_cosine_top1")),
        "dedup.simhash_pairs_s_p50": _median(secs("d9_simhash64_pairs_r3")),
        "dedup.simhash_pairs_jobs": jobs("d9_simhash64_pairs_r3"),
        **{f"self.{layer}.s_per_op": self_t.get(layer, 0.0) / n for layer in SELF_TIME_LAYERS},
        "trace.op_p50_s": _median(o.seconds for o in ops),
        "trace.overhead_share": tracer.overhead_s / busy,
    }
    return _value(m, PER_LAYER)


def _share(flags) -> float:
    flags = list(flags)
    return sum(flags) / len(flags) if flags else 0.0


def collect(w, tracer, cores: int, setup_s: float, traced: bool) -> dict:
    attempted = len(w.ops)
    failed = sum(not o.ok for o in w.ops)
    metrics = per_layer(w, tracer, cores) if traced else end_to_end(w, setup_s)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
