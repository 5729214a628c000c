"""Benchmark entry point.

    python3 perfbench/run.py --workload {corpus_batch,kv_ops} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` wraps every layer and reports the
per-layer metrics instead. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full report (every workload metric with its unit and sample count).
A run does a fixed amount of work; ``--seconds`` is recorded in the
report but does not change the work, so a faster program is measured on
the same operations.
Work files live under ``perfbench/.work`` and are removed at exit; a
traced run leaves its spans in ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_p50_s": "s",
    "job_tail_s": "s",
    "work_per_s": "1/s",
    "retained_mb": "MB",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["corpus_batch", "kv_ops"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "distributed_computing_spark")):
        print("perfbench: distributed_computing_spark is not next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # temp files of the program (session_tmpdir), of Python workers and
    # of the JVM all land in the work dir, which is removed below
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    try:
        return _run(args, run_id, work)
    finally:
        try:
            _stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.join(HERE, ".work"))
            except OSError:
                pass


def _stop_spark() -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited
    (it also ends the Python workers it started)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, run_id: str, work: str) -> int:
    from perfbench import layers, workloads
    from perfbench.trace import Tracer

    traced = bool(args.trace)
    tracer = Tracer(run_id, traced)
    log_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files (and its perf-data file) in the work dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    def new_session():
        from distributed_computing_spark.session import get_spark

        cores = os.cpu_count() or 1
        return get_spark(cpus=cores, shuffle_partitions=cores, extra_conf=conf)

    run = workloads.RunContext(args.seed, work, tracer, new_session)
    if traced:
        layers.patch_layers(tracer)
    try:
        e2e = workloads.WORKLOADS[args.workload](run)
    finally:
        tracer.unpatch_all()
    e2e["setup_s"] = run.setup_s
    e2e["retained_mb"] = run.report["retained_mb"]

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "loop": "closed", "clients": 1, "cores": os.cpu_count(),
        "fail_share": run.failed / max(1, run.attempted),
        "setup_s": e2e["setup_s"], "session_create_s": run.create_s, "session_warm_s": run.warm_s,
        **run.report, "failures": run.failures,
    }
    if traced:
        metrics_values = layers.layer_metrics(tracer, run, log_dir)
        units = layers.UNITS
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
            {"run_id": run_id, "report": report, "layers": metrics_values},
        )
    else:
        metrics_values, units = e2e, END_TO_END_UNITS
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics_values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
