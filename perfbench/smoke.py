"""Smoke check of the benchmark at a tiny size.

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs ``run.py`` twice in fresh
processes at ``--scale tiny``:

- untraced, with ``--wrong-answer``: every end-to-end metric is printed
  with its unit and a finite value, and the corrupted expectation is
  counted as a failed op (``failed >= 1``, ``correct`` false);
- traced: every per-layer metric is printed with its unit, and every
  answer is right.

It also runs the benchmark in a directory holding only BENCHMARK.json and
the benchmark's own files, where it must exit non-zero without a result.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cwd, args, timeout=600):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p.returncode, last, p.stderr


def check_metrics(result, spec, problems, where):
    got = result.get("metrics", {})
    want = {m["name"]: m["unit"] for m in spec}
    if set(got) != set(want):
        problems.append(f"{where}: metrics {sorted(set(got) ^ set(want))} missing or extra")
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            problems.append(f"{where}: {name} unit {m.get('unit')!r} != {unit!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"{where}: {name} value {v!r} is not a finite number")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    common = ["--seed", "1", "--seconds", "1", "--scale", "tiny"]
    for w in (x["name"] for x in bench["workloads"]):
        rc, last, err = run(ROOT, ["--workload", w, "--trace", "0", "--wrong-answer", *common])
        if rc != 0:
            problems.append(f"{w} untraced: exit {rc}\n{err[-3000:]}")
        else:
            res = json.loads(last)
            check_metrics(res, bench["end_to_end"], problems, f"{w} untraced")
            if res["failed"] < 1 or res["correct"]:
                problems.append(f"{w}: the wrong expected answer was not counted as failed")
        rc, last, err = run(ROOT, ["--workload", w, "--trace", "1", *common])
        if rc != 0:
            problems.append(f"{w} traced: exit {rc}\n{err[-3000:]}")
        else:
            res = json.loads(last)
            check_metrics(res, bench["per_layer"], problems, f"{w} traced")
            if res["failed"] != 0 or not res["correct"]:
                problems.append(f"{w} traced: {res['failed']} of {res['attempted']} ops failed")
        print(f"[smoke] {w} done", flush=True)

    # without the engine's sources the benchmark must refuse to run
    bare = os.path.join(ROOT, ".bench_work", f"smoke-bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, last, _err = run(bare, ["--workload", bench["workloads"][0]["name"],
                                    "--trace", "0", *common], timeout=180)
        if rc == 0 or last.startswith("{"):
            problems.append(f"bare directory: exit {rc}, last line {last[:200]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print(f"[smoke] FAIL {p}")
    print("[smoke] ok" if not problems else f"[smoke] {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
