#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at the ``tiny`` sizes, untraced and traced, and
fails unless each run's output checks pass, the untraced run emits
every end-to-end metric, the traced run emits every per-layer metric,
and the traced run's spans cover each layer the workload exercises.
Takes a few minutes (one Spark session per run).
"""

from __future__ import annotations

import json
import sys

import run

# span-name prefixes each workload's traced run must record
LAYER_SPANS = {
    "bootstrap_export": ["session.", "pipeline.bootstrap", "codec.",
                         "routing.", "upsert.", "sink.fare.", "sink.flight.",
                         "index."],
    "cdc_tail": ["session.", "cdc.epoch", "streaming.start_stream",
                 "streaming.trigger", "streaming.add_batch",
                 "stream_source.", "pipeline.get_doc", "upsert.",
                 "sink.fare.", "sink.flight.", "index."],
    "search_mix": ["session.", "index."] + [
        f"search.{k}" for k in ("term_range", "terms_agg", "date_histogram",
                                "count", "get_doc", "multi_index", "plan",
                                "exec")],
}


def main() -> int:
    problems = []
    for name, prefixes in LAYER_SPANS.items():
        for trace in (False, True):
            res = run.run_workload(name, seed=5, seconds=1, trace=trace,
                                   size="tiny")
            tag = f"{name} trace={int(trace)}"
            print("\n".join(res["summary"]), flush=True)
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: checks failed")
            want = run.PER_LAYER if trace else run.END_TO_END
            if set(res["metrics"]) != set(want):
                problems.append(f"{tag}: metric names differ from the list")
            if not trace:
                zero = [k for k, v in res["metrics"].items() if v["value"] <= 0]
                if zero:
                    problems.append(f"{tag}: non-positive {zero}")
                continue
            with open(res["spans_path"]) as f:
                names = {s["name"] for s in json.load(f)["spans"]}
            missing = [p for p in prefixes
                       if not any(n.startswith(p) for n in names)]
            if missing:
                problems.append(f"{tag}: no spans for {missing}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
