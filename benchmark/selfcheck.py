"""Fast self-check of the benchmark (about five minutes on 4 cores).

    python3 benchmark/selfcheck.py

Runs every workload of BENCHMARK.json at scale 0.001 with one warm
request, untraced and traced, and checks that each run is correct with no
failed operation and prints every end-to-end (untraced) or per-layer
(traced) metric by name with its unit. Then checks that the benchmark
fails, printing no result, in a directory holding only BENCHMARK.json and
the benchmark's own files. Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "benchmark", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.001", "--requests", "1"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    proc = bench(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} "
                      f"failed={result['failed']}/{result['attempted']}")
    want = spec["per_layer" if trace else "end_to_end"]
    for m in want:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            errors.append(f"{where}: metric {m['name']} [{m['unit']}] -> {got}")
    extra = set(result["metrics"]) - {m["name"] for m in want}
    if extra:
        errors.append(f"{where}: undeclared metrics {sorted(extra)}")
    print(f"{where}: {len(result['metrics'])} metrics, "
          f"{result['attempted']} operations", flush=True)
    return errors


def check_bare_dir(workload: str) -> list[str]:
    bare = os.path.join(ROOT, ".bench_tmp", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "benchmark"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = bench(bare, workload, 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout!r}"]
    print("bare directory: fails without a result", flush=True)
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_run(spec, w["name"], trace)
    errors += check_bare_dir(spec["workloads"][0]["name"])
    for e in errors:
        print(f"FAIL {e}", file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
