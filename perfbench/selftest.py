#!/usr/bin/env python3
"""Self-test of the benchmark harness (not of the engine).

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs a few operations on
sf0.001-sized tables, untraced and traced, and asserts that:

- the last output line is the result object, every operation checked out,
  and the metrics are exactly the declared ``end_to_end`` (untraced) or
  ``per_layer`` (traced) ones, each with its declared unit;
- the traced run's layer self times cover at least 95% of operation wall
  time;
- a deliberately wrong expected hash makes the run report a failure;
- in a directory holding only BENCHMARK.json and the benchmark's files, the
  command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int, *extra: str):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if p.returncode == 0 else None), p


def _check(cond: bool, what: str, failures: list) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures: list[str] = []
    for w in (w["name"] for w in bench["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            rc, out, p = _run(ROOT, w, trace, "--small")
            _check(rc == 0 and out is not None,
                   f"{w} trace={trace} exits 0 with a result", failures)
            if out is None:
                print(p.stderr[-2000:])
                continue
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            _check(got == want, f"{w} trace={trace} emits every {section} "
                   "metric with its unit", failures)
            _check(out["correct"] and out["failed"] == 0
                   and out["attempted"] >= 1,
                   f"{w} trace={trace} all {out['attempted']} operations correct",
                   failures)
            if trace:
                cov = out["metrics"]["trace.coverage"]["value"]
                _check(cov >= 0.95, f"{w} layer coverage {cov:.3f} >= 0.95",
                       failures)
    rc, out, _ = _run(ROOT, bench["workloads"][0]["name"], 0, "--small",
                      "--wrong-hash")
    _check(rc == 0 and out is not None and out["failed"] > 0
           and not out["correct"],
           "a wrong expected hash is counted as a failed operation", failures)

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, _, p = _run(bare, bench["workloads"][0]["name"], 0)
        _check(rc != 0 and not p.stdout.strip(),
               "without the package the command fails and prints no result",
               failures)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
