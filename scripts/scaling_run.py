"""One pre-gated, steal-sampled scaling run (round-5 evidence protocol).

Wraps scripts/scaling.py with the two hygiene devices the round-4
forensics showed are needed for a CLEAN criterion measurement:

1. **Calibration pre-gate** — the same fixed-work probe bench.py
   records (a constant 10^8-row codegen'd hash-aggregate on
   local[32], independent of sf and of any repo code) runs FIRST; if
   it lands above ``--probe-max`` (default 0.9 s vs the 0.55–0.71 s
   calm-host band) the host is under pressure and the run ABORTS
   before burning a ~13-minute pair on a window that would need
   discounting anyway.
2. **Per-leg steal attribution** — scripts/steal_sampler.py runs for
   the whole pair; the N→4N leg boundary is taken from scaling.py's
   streamed per-leg stdout line, and the summary reports steal/idle
   mean+max separately for each leg, so an out-of-band reading
   carries its measured signature immediately instead of after-the-
   fact log archaeology.

Usage: python scripts/scaling_run.py [sf_dir] [replicas]
Prints one JSON line: the scaling.py summary + per-leg host stats +
the probe reading; exits 3 when the pre-gate aborts the run.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

PROBE_CODE = r"""
import time
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
spark = (SparkSession.builder.master("local[32]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "8g").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
# warm once (JVM/codegen), then measure the fixed-work window
for tag in ("warm", "probe"):
    t0 = time.time()
    spark.range(0, 100_000_000, 1, 32).select(
        (F.col("id") * 2654435761 % 1000003).alias("k")
    ).agg(F.sum("k"), F.count(F.lit(1))).collect()
    print(f"{tag}={time.time() - t0:.3f}", flush=True)
"""


def probe() -> float:
    proc = subprocess.run(
        [sys.executable, "-c", PROBE_CODE], capture_output=True,
        text=True, cwd="/root/repo", timeout=300,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("probe="):
            return float(line.split("=")[1])
    raise RuntimeError(f"probe failed: {proc.stderr[-500:]}")


def leg_stats(samples: list[dict], t0: float, t1: float) -> dict:
    win = [s for s in samples if t0 <= s["ts"] <= t1]
    if not win:
        return {}
    return {
        "windows": len(win),
        "steal_mean": round(sum(s["steal"] for s in win) / len(win), 2),
        "steal_max": max(s["steal"] for s in win),
        "idle_mean": round(sum(s["idle"] for s in win) / len(win), 2),
        "iowait_max": max(s["iowait"] for s in win),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = sys.argv[2] if len(sys.argv) > 2 else "64"
    probe_max = float(os.environ.get("KG_PROBE_MAX", "0.9"))

    load1 = os.getloadavg()[0]
    p = probe()
    print(f"pre-gate: probe={p:.3f}s (max {probe_max}) load1={load1:.2f}",
          flush=True)
    if p > probe_max:
        print(json.dumps({"aborted": True, "probe_sec": p,
                          "probe_max": probe_max, "load1": load1}))
        return 3

    sample_file = f"/tmp/steal_{int(time.time())}.jsonl"
    sampler = subprocess.Popen(
        [sys.executable, "scripts/steal_sampler.py", sample_file],
        cwd="/root/repo",
    )
    t_start = time.time()
    t_mid = None
    summary = None
    run = None
    try:
        run = subprocess.Popen(
            [sys.executable, "scripts/scaling.py", sf_dir, replicas],
            stdout=subprocess.PIPE, text=True, bufsize=1, cwd="/root/repo",
        )
        assert run.stdout is not None
        for line in run.stdout:
            line = line.rstrip()
            print(line, flush=True)
            if line.startswith("1 executor(s)"):
                t_mid = time.time()
            if line.startswith("{"):
                try:
                    summary = json.loads(line)
                except ValueError:
                    pass
        rc = run.wait()
    finally:
        # never orphan the scaling.py child (and its JVMs) when this
        # wrapper is interrupted mid-run
        if run is not None and run.poll() is None:
            run.terminate()
            try:
                run.wait(timeout=30)
            except subprocess.TimeoutExpired:
                run.kill()
                run.wait()
        sampler.send_signal(signal.SIGTERM)
        sampler.wait()
    t_end = time.time()
    if rc != 0 or summary is None:
        print(json.dumps({"failed": True, "rc": rc}))
        return 1

    samples = []
    try:
        with open(sample_file) as f:
            samples = [json.loads(ln) for ln in f if ln.strip()]
    except OSError:
        pass
    summary["probe_sec"] = p
    # False: scaling.py never printed its leg-boundary line, so both
    # legs' host stats below cover the whole run
    summary["boundary_found"] = t_mid is not None
    summary["load1_before"] = round(load1, 2)
    summary["host"] = {
        "N_leg": leg_stats(samples, t_start, t_mid or t_end),
        "4N_leg": leg_stats(samples, t_mid or t_start, t_end),
        "samples": sample_file,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
