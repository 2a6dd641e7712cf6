"""Measure the warm latency of every request case, for the strata of the
`shacl_requests` sample (see inputs.py).

    python3 benchmark/case_costs.py

Sends every approved conformance case except `shacl-shacl-data-shapes`
to `ToolServer.handle_request` (validate_graphs, json) in one session,
after a short warm-up, and writes each case's latency to
`benchmark/case_costs.json`. Takes about ten minutes on 4 cores. The
session is the host-wide local[nproc] one, not the narrower session the
`shacl_requests` workload runs in; only the ranking of the costs picks
the sample, so their values need not match the workload's latencies. Parent
and change must select the same sample, so a change that claims a gain
never reruns this; a change that redefines the benchmark may.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import host  # noqa: E402
import inputs  # noqa: E402

WARM_UP = 5


def main() -> int:
    from shacl_rust_spark.server import ToolServer

    cases = inputs.request_cases()
    tmp = os.path.join(ROOT, ".bench_tmp", f"{os.getpid()}-case-costs")
    os.makedirs(tmp)
    try:
        spark = host.build_session(tmp)
        try:
            server = ToolServer(spark=spark)
            entries = [inputs.request_entry(n, name, case)
                       for n, (name, case) in enumerate(sorted(cases.items()))]
            costs: dict[str, float] = {}
            for n, e in enumerate(entries[:WARM_UP] + entries):
                t0 = time.perf_counter()
                server.handle_request({k: e[k] for k in ("id", "tool", "args")})
                if n >= WARM_UP:
                    costs[e["case"]] = (time.perf_counter() - t0) * 1e3
                    print(f"{e['case']}: {costs[e['case']]:.0f} ms", flush=True)
        finally:
            spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(inputs.CASE_COSTS, "w") as f:
        json.dump({k: round(v) for k, v in sorted(costs.items())}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
