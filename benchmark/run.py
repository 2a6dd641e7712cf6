"""The repo benchmark: KG-pipeline throughput and SHACL request latency.

    python3 benchmark/run.py --workload kg_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repo root. The harness (this process) makes the seeded
inputs, computes the oracles in DuckDB, and starts fresh worker processes
(worker.py) that drive the package through `pipeline.run.run_pipeline`
and `server.ToolServer.handle_request`; it then checks every output
against the oracles. kg workloads run in a local[nproc] session,
shacl_requests in local[2] with 2 shuffle partitions. All files go to
`.bench_tmp/` under the repo root and are removed at exit.

stdout ends with two JSON lines: a record (host descriptor, CPU steal,
noise probe before and after, every operation with its wall and CPU
time, the wall-clock figures, failed fraction) and the result object
`{"correct", "attempted", "failed", "metrics"}`. A failed operation is an
exception, an emitted triple set that differs from the oracle, or a
request whose `conforms` differs from the manifest.

End-to-end metrics (`--trace 0`), reported on every workload. Every time
but set-up is CPU seconds (user + system) of the worker's session: its
Python process, the JVM and the JVM's Python workers (see `end_to_end`).
- setup_s: wall time from worker start until its SparkSession has
  answered one trivial action (its CPU time goes to the record);
- cold_cpu_s: the first operation in that fresh JVM: a `run_pipeline` on
  the small (sf0.01) input for kg workloads, whose cost is mostly first
  touch (JIT, Python-worker fork, codegen), or the first request;
- triples_per_cpu_s: emitted triples ÷ warm `run_pipeline` CPU time (kg),
  or data-graph triples ÷ warm request CPU time (requests);
- request_cpu_p50_ms: median CPU time of a warm operation: a whole
  `run_pipeline` call (kg), or one `validate_graphs` request;
- output_bytes_per_triple: bytes under `<out>/triples` + `<out>/nodes` ÷
  emitted triples (kg), or JSON report bytes ÷ data-graph triples.
Each warm `run_pipeline` writes to a fresh directory, so resume never
short-circuits. Per-layer metrics (`--trace 1`) are built in `per_layer`.

`--scale` and `--requests` shrink the inputs for the self-check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
import inputs  # noqa: E402
from oracle import kg_emitted, kg_expected, tree_bytes  # noqa: E402
from spans import KG_STAGES  # noqa: E402

# "cores" narrows the session below local[nproc]. Requests validate graphs
# of a few dozen triples, so their stages' tasks are near-empty: on
# local[4] with 8 shuffle partitions a warm request's median CPU time was
# 16-18 s against 10-12 s on local[2] (three seeds each), and it varied
# more between seeds.
WORKLOADS = {
    "kg_sf0.1": {"mode": "kg", "replicas": 1},
    "shacl_requests": {"mode": "shacl", "cores": 2},
}
# kg input of the cold run and of a traced shacl run's pipeline. At sf0.001
# the first sf0.1 run after the cold one read 12-15 % slower than the next
# two in the same JVM; after an sf0.01 cold run it reads as they do.
SMALL_SCALE = 0.01
COMPANION_REQUESTS = 1     # sample requests a traced kg run also stages
DEADLINE_S = 170           # whole run, so the harness exits inside 180 s


class BenchError(RuntimeError):
    pass


def spawn_worker(spec: dict, tmp: str, tag: str, deadline: float) -> tuple[dict, float]:
    """Run worker.py on `spec` in its own process group; return its
    result and the wall time from spawn to its session's first answer."""
    spec_path = os.path.join(tmp, f"{tag}.spec.json")
    result_path = os.path.join(tmp, f"{tag}.result.json")
    log_path = os.path.join(tmp, f"{tag}.log")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    py_tmp = os.path.join(tmp, "pytmp")
    os.makedirs(py_tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=py_tmp, PYSPARK_PYTHON=sys.executable)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    with open(log_path, "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path,
             result_path],
            cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise BenchError(
            f"worker {tag} {'timed out' if code is None else f'exited {code}'}"
            f"\n{tail}")
    with open(result_path) as f:
        result = json.load(f)
    return result, result["ready_ts"] - t_spawn


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM, Python
    workers), and wait until the group is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        end = time.time() + grace
        while time.time() < end:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)
    proc.wait()


def check_runs(runs: list[dict], expected: dict) -> None:
    """A pipeline run passes when its emitted set equals the oracle's."""
    for r in runs:
        r["pass"] = False
        if "error" in r:
            continue
        got = kg_emitted(r["out"])
        r["pass"] = got == expected[(r["sf_dir"], r["replicas"])]
        r["out_bytes"] = tree_bytes(os.path.join(r["out"], "triples"),
                                    os.path.join(r["out"], "nodes"))
        if not r["pass"]:
            print(f"oracle mismatch: {r['label']} run emitted {got}, "
                  f"expected {expected[(r['sf_dir'], r['replicas'])]}",
                  file=sys.stderr)
        shutil.rmtree(r["out"], ignore_errors=True)


def check_requests(reqs: list[dict]) -> None:
    """A request passes when its report's `conforms` matches the manifest;
    for sht:Failure an error or a non-conforming report passes."""
    for r in reqs:
        exp = r["expected"]
        if exp is None:
            r["pass"] = not r["ok"] or r.get("conforms") is False
        else:
            r["pass"] = r["ok"] and r.get("conforms") is exp
        if not r["pass"]:
            print(f"request mismatch: {r['case']} ({r['label']}) ok={r['ok']} "
                  f"conforms={r.get('conforms')} expected={exp} "
                  f"{r.get('error', '')}", file=sys.stderr)


def timings(mode: str, res: dict, entries: dict, key: str) -> dict:
    """The cold operation's time, triples per second and the warm p50 (ms),
    with `key` ("cpu_s" or "wall_s") as the clock."""
    ops = res["runs" if mode == "kg" else "requests"]
    cold = [r for r in ops if r["label"] == "cold"]
    warm = [r for r in ops if r["label"] == "warm"]
    t = {"cold_s": cold[0][key],
         "p50_ms": statistics.median([r[key] for r in warm]) * 1e3}
    if mode == "kg":
        t["triples_per_s"] = statistics.median(
            [r.get("emitted", 0) / r[key] for r in warm])
    else:
        triples = sum(entries[r["case"]]["data_triples"] for r in warm)
        t["triples_per_s"] = triples / sum(r[key] for r in warm)
    return t


def end_to_end(mode: str, res: dict, setup: float, entries: dict) -> dict:
    """Set-up is wall time; every other timing is CPU time of the worker's
    session. On the shared 4-vCPU host, a shacl_requests run at 8.3 % CPU
    steal read 39 % below one at 0.3 % in wall triples/s and 25 % below in
    CPU triples/s; three competing busy processes slowed the warm requests'
    wall time by 65 % and their CPU time by 2 %. Wall times go to the
    record."""
    cpu = timings(mode, res, entries, "cpu_s")
    m = {"setup_s": (setup, "s"),
         "cold_cpu_s": (cpu["cold_s"], "s"),
         "triples_per_cpu_s": (cpu["triples_per_s"], "triples/cpu_s"),
         "request_cpu_p50_ms": (cpu["p50_ms"], "ms")}
    if mode == "kg":
        warm = [r for r in res["runs"] if r["label"] == "warm"]
        m["output_bytes_per_triple"] = (statistics.median(
            [r.get("out_bytes", 0) / max(r.get("emitted", 0), 1)
             for r in warm]), "B/triple")
    else:
        warm = [r for r in res["requests"] if r["label"] == "warm"]
        triples = sum(entries[r["case"]]["data_triples"] for r in warm)
        m["output_bytes_per_triple"] = (
            sum(r.get("report_bytes", 0) for r in warm) / triples, "B/triple")
    return m


def per_layer(res: dict, cores: int) -> dict:
    groups = res["groups"]
    spans = {s["name"]: s for s in res["spans"]}

    def g(name, key):
        return groups.get(name, {}).get(key, 0.0)

    m = {}
    for st in KG_STAGES:
        m[f"{st}.s"] = (spans[st]["s"], "s")
    m["extract.task_s"] = (g("extract", "task_s"), "s")
    m["extract.rows_out"] = (spans["extract"]["rows_out"], "rows")
    m["link.task_s"] = (g("link", "task_s"), "s")
    m["link.shuffle_mb"] = (g("link", "shuffle_mb"), "MB")
    m["cc.jobs"] = (g("cc", "jobs"), "count")
    m["cc.shuffle_mb"] = (g("cc", "shuffle_mb"), "MB")
    m["cc.nodes_out"] = (spans["cc"]["nodes_out"], "rows")
    m["canonicalize.shuffle_mb"] = (g("canonicalize", "shuffle_mb"), "MB")
    m["canonicalize.rows_out"] = (spans["canonicalize"]["rows_out"], "rows")
    m["validate.plan_s"] = (spans["validate"]["plan_s"], "s")
    m["validate.jobs"] = (g("validate", "jobs"), "count")
    m["validate.task_s"] = (g("validate", "task_s"), "s")
    m["validate.shuffle_mb"] = (g("validate", "shuffle_mb"), "MB")
    m["validate.violations"] = (spans["validate"]["violations"], "rows")
    m["emit.write_mb"] = (g("emit", "write_mb"), "MB")
    m["emit.rows_out"] = (spans["emit"]["rows_out"], "rows")
    wall = sum(spans[st]["s"] for st in KG_STAGES)
    task_s = sum(g(st, "task_s") for st in KG_STAGES)
    m["spark.jobs"] = (sum(g(st, "jobs") for st in KG_STAGES), "count")
    m["spark.task_s"] = (task_s, "s")
    m["spark.core_util"] = (task_s / (wall * cores), "ratio")
    m["spark.gc_s"] = (sum(g(st, "gc_s") for st in KG_STAGES), "s")
    m["spark.spill_mb"] = (sum(g(st, "spill_mb") for st in KG_STAGES), "MB")
    m["spark.shuffle_mb"] = (sum(g(st, "shuffle_mb") for st in KG_STAGES), "MB")

    reqs = [s for s in res["spans"] if s["name"].startswith("request.")]

    def per_req_ms(key):
        return sum(s.get(key, 0.0) for s in reqs) / len(reqs) * 1e3

    m["rdf.parse_ms"] = (per_req_ms("parse_s"), "ms")
    m["shapes.compile_ms"] = (per_req_ms("compile_s"), "ms")
    m["engine.dataset_ms"] = (per_req_ms("dataset_s"), "ms")
    m["engine.plan_ms"] = (per_req_ms("plan_s"), "ms")
    m["engine.report_ms"] = (per_req_ms("report_s"), "ms")
    m["spark.jobs_per_request"] = (
        sum(g(s["name"], "jobs") for s in reqs) / len(reqs), "count")
    m["spark.tasks_per_request"] = (
        sum(g(s["name"], "tasks") for s in reqs) / len(reqs), "count")
    m["trace.overhead_frac"] = (
        (res["traced_s"] - res["untraced_s"]) / res["untraced_s"], "ratio")
    return m


def run(args) -> tuple[dict, dict]:
    if not os.path.isdir(os.path.join(ROOT, "shacl_rust_spark")):
        raise BenchError(f"no shacl_rust_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    cpu0 = host.cpu_times()
    tmp = os.path.join(ROOT, ".bench_tmp", f"{os.getpid()}-{args.workload}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        spec = {"mode": wl["mode"], "trace": bool(args.trace),
                "seconds": args.seconds, "tmp_dir": tmp,
                "cores": wl.get("cores")}
        expected, entries = {}, {}
        kg_mode = wl["mode"] == "kg"
        if kg_mode or args.trace:
            replicas = wl.get("replicas", 1)
            spec["kg"] = {"replicas": replicas}
            scales = {"small_sf_dir": SMALL_SCALE}
            if kg_mode:
                scales["sf_dir"] = args.scale
            for key, scale in scales.items():
                sf_dir = os.path.join(tmp, key)
                spec["kg"][key] = sf_dir
                spec["kg"][key + "_rows"] = inputs.write_kg_inputs(
                    sf_dir, args.seed, scale)
                expected[(sf_dir, replicas)] = kg_expected(sf_dir, replicas)
            # a traced shacl run stages the pipeline on the small input
            spec["kg"].setdefault("sf_dir", spec["kg"]["small_sf_dir"])
        if not kg_mode or args.trace:
            spec["requests"] = os.path.join(tmp, "requests.jsonl")
            entries = {e["case"]: e for e in inputs.write_requests(
                spec["requests"], args.seed,
                args.requests or (COMPANION_REQUESTS if kg_mode else None))}
        res, setup = spawn_worker(spec, tmp, "main", deadline)
        for r in res["requests"]:
            r["expected"] = entries[r["case"]]["expected_conforms"]
        check_runs(res["runs"], expected)
        check_requests(res["requests"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    ops = res["runs"] + res["requests"]
    failed = sum(not o["pass"] for o in ops)
    if args.trace:
        metrics = per_layer(res, wl.get("cores") or host.nproc())
    else:
        metrics = end_to_end(wl["mode"], res, setup, entries)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host.descriptor(),
        "session_cores": wl.get("cores") or host.nproc(),
        "cpu_steal_frac": host.steal_frac(cpu0, host.cpu_times()),
        "probe_before_s": res["probe_before_s"],
        "probe_after_s": res["probe_after_s"],
        "setup_s": setup,
        "setup_cpu_s": res["ready_cpu_s"],
        "wall": None if args.trace else timings(wl["mode"], res, entries,
                                                "wall_s"),
        "inputs": spec.get("kg"),
        "operations": [
            {k: o.get(k) for k in ("label", "case", "wall_s", "cpu_s", "emitted",
                                    "phases", "ok", "pass", "error")
             if k in o}
            for o in ops
        ],
        "failed_frac": failed / len(ops),
        "total_s": time.time() - t_start,
    }
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="kg input scale factor (0.1 = 150k orders)")
    ap.add_argument("--requests", type=int, default=None,
                    help="cap on warm requests per pass")
    args = ap.parse_args(argv)
    # a terminated harness still runs its cleanup: stop the worker, remove
    # the temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        record, result = run(args)
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
