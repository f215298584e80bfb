#!/usr/bin/env python3
"""The benchmark's own tests, including its negative controls.

    python3 perfbench/selftest.py

Run from the root of a checkout (takes a few minutes: every check is a
real run at tiny scale). Checks:

  1. a tiny run of every workload (royalty_etl, index_maintain)
     completes with every output correct;
  2. with --trace 0 a run emits exactly the end_to_end metrics of
     BENCHMARK.json and with --trace 1 exactly its per_layer metrics,
     each with the unit BENCHMARK.json gives it;
  3. a deliberately wrong expected royalty total is reported as a
     failure (correct: false, failed > 0), not as a fast run;
  4. in a directory holding only BENCHMARK.json and perfbench/, the
     runner exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ["royalty_etl", "index_maintain"]


def run(workload, trace, *extra, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "2",
         "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        rec = json.loads(lines[-1]) if lines else None
    except ValueError:
        rec = None
    return p.returncode, rec, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures = []

    def expect(ok, what):
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        for trace in (0, 1):
            code, rec, err = run(w, trace)
            tag = f"{w} --trace {trace}"
            expect(code == 0 and rec is not None,
                   f"{tag}: tiny run completes" +
                   ("" if code == 0 else f" (exit {code}: {err[-300:]})"))
            if rec is None:
                continue
            expect(rec["correct"] and rec["failed"] == 0 and
                   rec["attempted"] >= 1,
                   f"{tag}: every output correct ({rec['failed']} of "
                   f"{rec['attempted']} failed)")
            got = {k: v["unit"] for k, v in rec["metrics"].items()}
            bad_units = sorted(k for k in got
                               if k in want[trace] and got[k] != want[trace][k])
            expect(got == want[trace],
                   f"{tag}: metrics and units match BENCHMARK.json" +
                   ("" if got == want[trace] else
                    f" (missing {sorted(set(want[trace]) - set(got))}, "
                    f"extra {sorted(set(got) - set(want[trace]))}, "
                    f"unit mismatch {bad_units})"))
            expect(all(isinstance(v["value"], (int, float))
                       for v in rec["metrics"].values()),
                   f"{tag}: every metric value is a number")

    code, rec, _ = run("royalty_etl", 0, "--wrong-total")
    expect(code == 0 and rec is not None and not rec["correct"] and
           rec["failed"] >= 1,
           "a wrong expected royalty total is reported as a failure")

    scratch = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or
                           ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        code, rec, _ = run("royalty_etl", 0, cwd=bare)
        expect(code != 0 and rec is None,
               "without graft's sources the runner fails and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
