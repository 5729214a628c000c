"""Which program functions a traced run wraps, and the per-layer metrics.

Layer names follow the program's modules. Every time metric is charged
per timed step (one registry job; one micro-batch in
``kv_ops``), so runs of different lengths compare; a layer the workload
never calls reads 0. The session metrics split ``setup_s``: the JVM and
session start, and the prime.

Operator layers (mapreduce, dedup, curation) build lazy plans, so their
wrapper span holds plan-build time only. Their metric adds the
execution time of the Spark jobs of every operation whose plan they
built (the union of those jobs' intervals).
"""

from __future__ import annotations

from collections import Counter

from perfbench.trace import covered, driver_gap, read_event_logs, self_time

# (module, attribute, span name); a "Class.method" attribute patches the class
PATCHES = (
    ("distributed_computing_spark.sources.catalog", "load_table", "catalog.load_table"),
    ("distributed_computing_spark.parallelism", "spread_for_arrow", "parallelism.spread_for_arrow"),
    ("distributed_computing_spark.operators.mapreduce", "fused_word_count", "mapreduce.fused_word_count"),
    ("distributed_computing_spark.operators.mapreduce", "map_reduce", "mapreduce.map_reduce"),
    ("distributed_computing_spark.operators.mapreduce", "inverted_index", "mapreduce.inverted_index"),
    ("distributed_computing_spark.operators.dedup", "minhash_lsh_exact", "dedup.minhash_lsh_exact"),
    ("distributed_computing_spark.operators.dedup", "ngram_jaccard_pairs", "dedup.ngram_jaccard_pairs"),
    ("distributed_computing_spark.operators.curation", "clean_text", "curation.clean_text"),
    ("distributed_computing_spark.operators.curation", "fused_chunk_docs", "curation.fused_chunk_docs"),
    ("distributed_computing_spark.operators.dedup", "fused_decontaminate", "curation.fused_decontaminate"),
    ("distributed_computing_spark.functions.text", "fingerprint", "curation.fingerprint"),
    ("distributed_computing_spark.functions.text", "quality_score", "curation.quality_score"),
    ("distributed_computing_spark.streaming.kv_stream", "KVTableStore.apply_batch", "kv_stream.apply_batch"),
    ("distributed_computing_spark.sinks", "merge_kv_state", "sinks.merge_kv_state"),
    ("distributed_computing_spark.sinks", "merge_high_water", "sinks.merge_high_water"),
    ("distributed_computing_spark.operators.kv", "kv_get", "kv.get"),
    ("distributed_computing_spark.operators.kv", "dedup_ops", "kv.dedup_ops"),
    ("distributed_computing_spark.operators.sharding", "ShardMaster.join", "sharding.rebalance"),
    ("distributed_computing_spark.operators.sharding", "ShardMaster.leave", "sharding.rebalance"),
    ("distributed_computing_spark.operators.sharding", "migration_plan", "sharding.migration_plan"),
    ("distributed_computing_spark.operators.sharding", "install_config", "sharding.install_config"),
)

UNITS = {
    "session.create_s": "s",
    "session.warm_s": "s",
    "catalog.load_table_s": "s",
    "scan.input_rows": "count",
    "scan.input_bytes": "bytes",
    "registry.build_s": "s",
    "parallelism.spread_for_arrow_s": "s",
    "parallelism.arrow_stage_tasks": "count",
    "spark.driver_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_udf_s": "s",
    "spark.task_failures": "count",
    "mapreduce.fused_word_count_s": "s",
    "mapreduce.map_reduce_s": "s",
    "mapreduce.inverted_index_s": "s",
    "dedup.minhash_lsh_exact_s": "s",
    "dedup.ngram_jaccard_pairs_s": "s",
    "dedup.pair_yield": "ratio",
    "curation.pipeline_s": "s",
    "caching.tracked_at_release": "count",
    "caching.persisted_rdds_after_op": "count",
    "kv_stream.apply_batch_s": "s",
    "kv_stream.apply_batch_self_s": "s",
    "sinks.merge_kv_state_s": "s",
    "sinks.merge_high_water_s": "s",
    "sinks.bytes_written_per_batch": "bytes",
    "sinks.write_amp": "ratio",
    "sinks.state_files": "count",
    "kv.get_s": "s",
    "kv.dedup_drop_share": "ratio",
    "sharding.rebalance_s": "s",
    "sharding.install_config_s": "s",
    "sharding.keys_moved": "count",
    "sharding.balance_spread": "count",
    "trace.bookkeeping_s": "s",
}


def patch_layers(tracer) -> None:
    import importlib

    # load every module whose names are copied, so all copies get patched
    importlib.import_module("distributed_computing_spark.registry")
    for mod_name, attr, span_name in PATCHES:
        owner = importlib.import_module(mod_name)
        if "." in attr:
            cls, attr = attr.split(".")
            owner = getattr(owner, cls)
        tracer.patch(owner, attr, span_name)


def layer_metrics(tracer, run, log_dir: str) -> dict[str, float]:
    jobs_by_span, stages = read_event_logs(log_dir)
    owner: dict = {}  # stage -> the first job that lists it (the one that ran it)
    for jobs in jobs_by_span.values():
        for j in jobs:
            for st in j.stages:
                if st not in owner or j.job_id < owner[st].job_id:
                    owner[st] = j

    def jobs_of(spans):
        return [j for s in spans for j in jobs_by_span.get(s.id, ())]

    def stages_of(jobs):
        ids = {id(j) for j in jobs}
        return [stages[st] for st, j in owner.items() if id(j) in ids and st in stages]

    steps = max(1, run.layer["kv.batches"] or len(run.op_spans))
    total: Counter = Counter()
    for op in run.op_spans:
        sub = tracer.subtree(op)
        jobs = jobs_of(sub)
        intervals = [(j.start, j.end) for j in jobs]
        exec_s = covered(intervals, op.start, op.end)
        total["spark.driver_s"] += driver_gap(op, intervals)
        total["spark.jobs"] += len(jobs)
        sts = stages_of(jobs)
        for st in sts:
            total["spark.stages"] += st.tasks > 0
            total["spark.tasks"] += st.tasks
            total["spark.executor_run_s"] += st.run_s
            total["spark.executor_cpu_s"] += st.cpu_s
            total["spark.gc_s"] += st.gc_s
            total["spark.shuffle_write_bytes"] += st.shuffle_write_bytes
            total["spark.shuffle_read_bytes"] += st.shuffle_read_bytes
            total["spark.spill_bytes"] += st.spill_bytes
            total["spark.python_udf_s"] += st.python_s
            total["spark.task_failures"] += st.failures
            total["scan.input_rows"] += st.input_rows
            total["scan.input_bytes"] += st.input_bytes
            if st.python:
                total["parallelism.arrow_stage_tasks"] += st.tasks
        names = Counter(s.name for s in sub)
        for s in sub:
            total[f"span:{s.name}"] += s.duration
        # operator layers: plan-build time plus the execution they planned
        for layer, span_names in OPERATOR_LAYERS.items():
            if any(names[n] for n in span_names):
                total[layer] += exec_s
        if names["dedup.minhash_lsh_exact"] or names["dedup.ngram_jaccard_pairs"]:
            total["dedup.pairs_out"] += op.attrs.get("rows", 0)
            total["dedup.pair_exchange_records"] += max((st.shuffle_write_records for st in sts), default=0)
        for s in sub:
            if s.name.startswith("sinks."):
                total["sinks.bytes_written"] += sum(st.output_bytes for st in stages_of(jobs_by_span.get(s.id, [])))
            if s.name == "kv_stream.apply_batch":
                children = [c for c in sub if c.parent == s.id]
                total["kv_stream.apply_batch_self_s"] += self_time(s, children)

    def span_total(*names):
        return sum(total[f"span:{n}"] for n in names)

    out = {
        "session.create_s": run.create_s,
        "session.warm_s": run.warm_s,
        "catalog.load_table_s": span_total("catalog.load_table") / steps,
        "registry.build_s": span_total("registry.build") / steps,
        "parallelism.spread_for_arrow_s": span_total("parallelism.spread_for_arrow") / steps,
    }
    for key in ("scan.input_rows", "scan.input_bytes", "parallelism.arrow_stage_tasks", "spark.driver_s",
                "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
                "spark.gc_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
                "spark.python_udf_s", "spark.task_failures", "kv_stream.apply_batch_self_s"):
        out[key] = total[key] / steps
    for layer, span_names in OPERATOR_LAYERS.items():
        out[layer] = (total[layer] + span_total(*span_names)) / steps
    out["dedup.pair_yield"] = total["dedup.pairs_out"] / max(1, total["dedup.pair_exchange_records"])
    out["caching.tracked_at_release"] = run.layer["caching.tracked_at_release"] / steps
    out["caching.persisted_rdds_after_op"] = run.layer["caching.persisted_rdds_after_op"]
    out["kv_stream.apply_batch_s"] = span_total("kv_stream.apply_batch") / steps
    out["sinks.merge_kv_state_s"] = span_total("sinks.merge_kv_state") / steps
    out["sinks.merge_high_water_s"] = span_total("sinks.merge_high_water") / steps
    out["sinks.bytes_written_per_batch"] = total["sinks.bytes_written"] / steps
    out["sinks.write_amp"] = total["sinks.bytes_written"] / max(1, run.layer["kv.batch_user_bytes"])
    out["sinks.state_files"] = run.layer["sinks.state_files"]
    out["kv.get_s"] = span_total("kv.get") / steps
    out["kv.dedup_drop_share"] = run.layer["kv.dedup_drop_share"]
    out["sharding.rebalance_s"] = span_total("sharding.rebalance") / steps
    out["sharding.install_config_s"] = span_total("sharding.install_config", "sharding.install_config.run") / steps
    out["sharding.keys_moved"] = run.layer["sharding.keys_moved"] / max(1, run.layer["sharding.reconfigs"])
    out["sharding.balance_spread"] = run.layer["sharding.balance_spread"]
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s / steps
    assert set(out) == set(UNITS), set(out) ^ set(UNITS)
    return out


OPERATOR_LAYERS = {
    "mapreduce.fused_word_count_s": ("mapreduce.fused_word_count",),
    "mapreduce.map_reduce_s": ("mapreduce.map_reduce",),
    "mapreduce.inverted_index_s": ("mapreduce.inverted_index",),
    "dedup.minhash_lsh_exact_s": ("dedup.minhash_lsh_exact",),
    "dedup.ngram_jaccard_pairs_s": ("dedup.ngram_jaccard_pairs",),
    "curation.pipeline_s": (
        "curation.clean_text", "curation.fused_chunk_docs", "curation.fused_decontaminate",
        "curation.fingerprint", "curation.quality_score",
    ),
}
