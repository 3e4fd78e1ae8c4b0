#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``workloads.py``) against the engine in the
checkout that holds this directory, checks its outputs, and prints as
the last line of standard output one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the workload
runs half its time untraced and half traced, and the metrics are the
per-layer ones (spans are written under ``.perfbench_work/traces``).
Exits non-zero when an output check fails, or when the engine package
is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "opensearch_dynamodb_etl_cdk_spark"

END_TO_END = {
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "setup_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "stream_source.latest_offset_s": "s",
    "streaming.query_start_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.input_rows": "count",
    "pipeline.bootstrap_s": "s",
    "pipeline.epoch_other_s": "s",
    "pipeline.rows_dlq": "count",
    "spark.jobs_per_epoch": "count",
    "spark.stages_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "codec.transform_s": "s",
    "codec.items_per_s": "1/s",
    "routing.split_s": "s",
    "upsert.latest_by_key_s": "s",
    "upsert.apply_cdc_batch_s": "s",
    "sink.fare.write_route_s": "s",
    "sink.flight.write_route_s": "s",
    "sink.calls": "count",
    "index.buckets_touched_per_epoch": "count",
    "index.bytes_rewritten_per_epoch": "B",
    "index.write_amp": "ratio",
    "index.files": "count",
    "index.bytes": "B",
    "index.bytes_per_doc": "B",
    "search.term_range_p50_s": "s",
    "search.terms_agg_p50_s": "s",
    "search.date_histogram_p50_s": "s",
    "search.count_p50_s": "s",
    "search.get_doc_p50_s": "s",
    "search.multi_index_p50_s": "s",
    "search.plan_s": "s",
    "search.exec_s": "s",
    "search.jobs_per_request": "count",
    "search.p90_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}

# Workload-specific names for latency_p50_s and throughput_per_s, used
# in the human-readable summary above the result line.
ALIASES = {
    "bootstrap_export": ("bootstrap_latency_s", "bootstrap_items_per_s"),
    "cdc_tail": ("freshness_p50_s", "cdc_events_per_s"),
    "search_mix": ("search_p50_s", "search_qps"),
}


def _jvm_gc_s(spark) -> float:
    """Total time the JVM's garbage collectors have run so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000


def _peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the JVM it started."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        # the next get_spark in this process launches a new JVM
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 size: str = "full") -> dict:
    """Run one workload in a fresh session; return the result object
    plus ``summary`` (human-readable lines) and ``spans_path``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    from opensearch_dynamodb_etl_cdk_spark.session import get_spark
    from tracing import Tracer
    from workloads import SIZES, WORKLOADS, Run, base_cache

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse, derby.log and the like land here
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        get_spark_s, session_warm_s = t1 - t0, t2 - t1

        tracer = Tracer(False)
        run = Run(spark, ROOT, work, seed, SIZES[size], tracer)
        wl = WORKLOADS[name]()
        build_s = 0.0
        if wl.needs_base:  # built once per checkout, not billed to setup_s
            t = time.perf_counter()
            base_cache(run)
            build_s = time.perf_counter() - t
        t = time.perf_counter()
        prep_median, prep_total = wl.setup(run)
        setup_once = time.perf_counter() - t - prep_total + prep_median
        t = time.perf_counter()
        wl.warm(run)
        warm_op_s = time.perf_counter() - t

        t_measure = time.perf_counter()
        if trace:
            plain = wl.measure(run, seconds / 2)
            tracer.enabled = True
            lat = wl.measure(run, seconds / 2)
        else:
            lat = wl.measure(run, seconds)
        tracer.enabled = False

        t_check = time.perf_counter()
        try:
            wl.check(run)
        except Exception:
            traceback.print_exc()
            run.check(f"{name}.check_raised", False)

        check_s = time.perf_counter() - t_check
        measure_s = t_check - t_measure
        latency, throughput = wl.e2e(lat)
        if trace:
            tracer.enabled = True
            tracer.add("session.get_spark", t0, t1)
            tracer.add("session.warmup", t1, t2)
            wl.layers(run)
            tracer.enabled = False
            run.layer["session.get_spark_s"] = get_spark_s
            run.layer["session.warmup_s"] = session_warm_s + warm_op_s
            run.layer["process.peak_rss_mb"] = _peak_rss_mb(spark)
            run.layer["trace.overhead_ratio"] = (
                statistics.median(lat) / statistics.median(plain) - 1)
            metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            values = {
                "latency_p50_s": latency,
                "throughput_per_s": throughput,
                "setup_s": get_spark_s + session_warm_s + setup_once + warm_op_s,
            }
            metrics = {k: {"value": float(values[k]), "unit": u}
                       for k, u in END_TO_END.items()}

        failed_checks = [c for c in run.checks if not c[1]]
        for c in failed_checks:
            print(f"perfbench: check failed: {c[0]}: {c[2]}", file=sys.stderr)
        failed = run.op_failures + len(failed_checks)
        lat_name, thr_name = ALIASES[name]
        summary = [
            f"# {name} seed={seed} ops={len(lat)} checks={len(run.checks)} "
            f"failed={failed} base_build_s={build_s:.2f}",
            f"# {lat_name}={latency:.4f} {thr_name}={throughput:.2f} "
            f"({wl.unit}/s, {len(lat)} samples)",
            "# latencies_s " + " ".join(f"{x:.3f}" for x in lat),
            f"# jvm_gc_s={_jvm_gc_s(spark):.2f} "
            f"peak_rss_mb={_peak_rss_mb(spark):.0f}",
            f"# phases_s session={get_spark_s + session_warm_s:.2f} "
            f"setup={setup_once:.2f} warm={warm_op_s:.2f} "
            f"measure={measure_s:.2f} check={check_s:.2f}",
        ]
        spans_path = None
        if trace:
            traces = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            spans_path = os.path.join(traces, f"{name}-seed{seed}.json")
            tracer.dump(spans_path)
            summary.append(f"# spans: {spans_path}")
        return {
            "correct": failed == 0,
            "attempted": len(lat) + run.op_failures + len(run.checks),
            "failed": failed,
            "metrics": metrics,
            "summary": summary,
            "spans_path": spans_path,
        }
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ALIASES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the {PACKAGE} package is not next to {HERE}",
              file=sys.stderr)
        return 2
    # The JVM inherits file descriptor 1: point it at stderr so only the
    # summary and the result line reach standard output.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    for line in res.pop("summary"):
        print(line, file=out)
    res.pop("spans_path")
    print(json.dumps(res), file=out, flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
