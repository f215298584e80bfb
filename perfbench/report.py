#!/usr/bin/env python3
"""Traced + untraced pair per workload, written to perfbench/results/.

    python3 perfbench/report.py [--seed N] [--seconds S] [workload ...]

For each workload (default: those in BENCHMARK.json) it runs the
benchmark once untraced and once traced with the same seed, copies the
traced run's span file to results/trace_<workload>.json, and writes
results/summary.json: the end-to-end record, the per-layer record, the
tracing overhead (traced / untraced main_op_p50_ms - 1) and the span
rollup sorted by self time.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} --trace {trace} failed: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    facts = [json.loads(l) for l in lines[:-1] if l.startswith("{")]
    return json.loads(lines[-1]), facts


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    out_dir = os.path.join(BENCH_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or
                         ".bench_build")
    summary = {"seed": a.seed, "seconds": a.seconds, "workloads": {}}
    for w in a.workloads:
        e2e, facts = run(w, a.seed, a.seconds, 0)
        layer, _ = run(w, a.seed, a.seconds, 1)
        src = os.path.join(build, "traces", f"trace_{w}_{a.seed}.json")
        dst = os.path.join(out_dir, f"trace_{w}.json")
        shutil.copy(src, dst)
        with open(dst) as f:
            trace = json.load(f)
        untraced = e2e["metrics"]["main_op_p50_ms"]["value"]
        traced = layer["metrics"]["trace.main_op_p50_ms"]["value"]
        rollup = sorted(trace["rollup"].items(),
                        key=lambda kv: -kv[1]["self_ms"])
        summary["workloads"][w] = {
            "facts": facts,
            "end_to_end": e2e,
            "per_layer_nonzero": {k: v for k, v in layer["metrics"].items()
                                  if v["value"]},
            "per_layer_zero": sorted(k for k, v in layer["metrics"].items()
                                     if not v["value"]),
            "tracing_overhead": traced / untraced - 1,
            "unattributed_share":
                layer["metrics"]["trace.unattributed_share"]["value"],
            "unattributed_jobs": trace["unattributed_jobs"],
            "rollup_by_self_ms": dict(rollup),
        }
        print(f"{w}: overhead {traced / untraced - 1:+.3f}, unattributed "
              f"{summary['workloads'][w]['unattributed_share']:.4f}",
              flush=True)
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
