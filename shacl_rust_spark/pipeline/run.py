"""End-to-end KG-construction driver (the spark-submit entry point).

    python -m shacl_rust_spark.pipeline.run \
        --sf-dir /root/testdata/sf0.01 --out /tmp/kg_out [--cpus 8]

Phases (north_rule): pages → extract → mentions → link → sameAs CC →
canonicalize → SHACL-validate → partitioned emit with manifest resume.
Prints one JSON line of stage metrics; exit code 0 on success.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def run_pipeline(spark, sf_dir: str, out_dir: str, replicas: int = 1) -> dict:
    from pyspark.sql import functions as F

    from . import assemble, cc, emit, extract, link, pages

    t0 = time.time()
    metrics: dict = {}
    phases: dict = {}
    _last = [t0]

    def mark(name: str) -> None:
        now = time.time()
        phases[name] = round(now - _last[0], 2)
        _last[0] = now

    pg = pages.pages(spark, sf_dir, replicas)
    # page count from parquet footer metadata (driver-side, no Spark
    # job) — an exact count without materializing the synthesized pages
    import pyarrow.parquet as pq

    n_pages = (
        pq.ParquetFile(f"{sf_dir}/orders.parquet").metadata.num_rows * replicas
        + pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    )
    fingerprint = emit._fingerprint(sf_dir, replicas)
    prior = emit.read_committed(out_dir, fingerprint)
    if prior is not None:
        prior["resumed"] = True
        return prior

    metrics["pages"] = n_pages
    mark("setup")

    resumed_stages: list[str] = []

    def scratch_committed(name: str) -> bool:
        """True when the named scratch snapshot committed for THIS run
        fingerprint — the stage (and everything upstream of it) can be
        skipped on a restarted run."""
        try:
            with open(f"{out_dir}/_scratch/{name}._commit.json") as f:
                return json.load(f).get("fingerprint") == fingerprint
        except (OSError, ValueError):
            return False

    def scratch(df, name: str, partition_by: str | None = None):
        """Materialize an intermediate as compressed columnar scratch
        parquet (the Iceberg intermediate-table stand-in) instead of a
        row-format localCheckpoint: ~10× fewer bytes to re-read, column
        pruning for downstream passes that touch a subset of columns,
        block-location-free scans (no cross-executor cache fetches),
        and a free exact row count from the footers.

        Each scratch table is a committed stage snapshot: a fingerprint
        marker written AFTER the parquet commit makes the stage
        resumable — a restarted run with the same input skips every
        stage whose snapshot already committed (the Iceberg
        "resume from last committed snapshot" contract at stage
        granularity; partial writes have no marker and recompute)."""
        path = f"{out_dir}/_scratch/{name}"
        if scratch_committed(name):
            resumed_stages.append(name)
            with open(f"{path}._commit.json") as f:
                # stage metrics captured at original commit time —
                # restores counters for the skipped upstream stages
                metrics.update(json.load(f).get("metrics", {}))
            return spark.read.parquet(path)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)
        with open(f"{path}._commit.json", "w") as f:
            json.dump({"fingerprint": fingerprint,
                       "committed_at": time.time(),
                       "metrics": dict(metrics)}, f)
        return spark.read.parquet(path)

    extracted = extract.extract_text(pg)
    mentions = scratch(extract.detect_mentions(extracted), "mentions")
    metrics["mentions"] = emit.parquet_rows(f"{out_dir}/_scratch/mentions")
    mark("extract_mentions")

    edict = pages.entity_dict(spark, sf_dir)
    from concurrent.futures import ThreadPoolExecutor

    if scratch_committed("candidates"):
        # restarted run: the canonicalized-candidates snapshot covers
        # every upstream stage (extract → link → CC → canonicalize);
        # skip their recomputation entirely — counters come from the
        # snapshot's stored metrics
        candidates = scratch(None, "candidates", partition_by="p").select(
            "s", "p", "o", "o_is_iri"
        )
        mark("link")
        mark("cc")
        mark("canonicalize")
    else:
        linked = scratch(link.link_mentions(mentions, edict), "linked")

        # two independent metric collects over the scratch table —
        # submitted from driver threads so their stages interleave and
        # the per-action driver latency is paid once, not twice
        def _by_method():
            return {
                r["link_method"]: r["n"]
                for r in linked.where(F.col("kind") == "lives_in")
                .groupBy("link_method")
                .agg(F.count(F.lit(1)).alias("n")).collect()
            }

        def _head_entity():
            # head-entity histogram via the salted two-stage aggregate
            top = (
                link.salted_count(
                    linked.where(F.col("entity_id").isNotNull()), "entity_id"
                )
                .orderBy(F.col("n_mentions").desc())
                .limit(1)
                .collect()
            )
            return (
                {"entity": top[0]["entity_id"],
                 "mentions": top[0]["n_mentions"]}
                if top else None
            )

        with ThreadPoolExecutor(2) as pool:
            f_links = pool.submit(_by_method)
            f_head = pool.submit(_head_entity)
            metrics["links"] = f_links.result()
            head = f_head.result()
        if head:
            metrics["head_entity"] = head
        mark("link")

        cand = assemble.assemble_triples(linked)
        edges = assemble.sameas_edges(cand)
        labels = cc.connected_components(edges)
        cc_row = labels.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("component").alias("c"),
        ).collect()[0]
        metrics["cc_nodes"] = cc_row["n"]
        metrics["cc_components"] = cc_row["c"]
        mark("cc")

        # Canonicalized candidates materialize ONCE as predicate-
        # partitioned scratch parquet (the Iceberg intermediate-table
        # stand-in): every downstream pass — the validator's
        # per-predicate scans and the final anti-join — reads a
        # partition-pruned, column-pruned, compressed columnar source
        # instead of re-deserializing a fat row-format checkpoint from
        # whichever executor happened to write it.
        canon = cc.canonicalize(
            cand.where(F.col("p") != assemble.P_SAME_AS).select(
                "s", "p", "o", "o_is_iri"
            ),
            labels,
        ).dropDuplicates(["s", "p", "o"])
        candidates = scratch(canon, "candidates", partition_by="p").select(
            "s", "p", "o", "o_is_iri"
        )
        mark("canonicalize")

    valid, violations = emit.validate_candidates(spark, candidates, edict)
    metrics["violations"] = violations.count()
    mark("validate")

    # Emit = ONE pass over the candidates (anti-join + partitioned
    # write); the emitted count comes from the written parquet footers —
    # no second count pass, no checkpoint of the valid set.
    (
        valid.select("s", "p", "o", "o_is_iri")
        .write.mode("overwrite").partitionBy("p")
        .parquet(f"{out_dir}/triples")
    )
    metrics["emitted_triples"] = emit.parquet_rows(f"{out_dir}/triples")
    mark("emit")

    # finalize: nodes write and lineage stats both scan the (small,
    # compressed) written output — independent actions, run concurrently
    written = spark.read.parquet(f"{out_dir}/triples")
    nodes = (
        written.select(
            F.explode(
                F.array_compact(
                    F.array(F.col("s"),
                            F.when(F.col("o_is_iri"), F.col("o")))
                )
            ).alias("node")
        )
        .dropDuplicates(["node"])
    )
    with ThreadPoolExecutor(2) as pool:
        f_nodes = pool.submit(
            lambda: nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")
        )
        f_stats = pool.submit(emit.partition_stats, written)
        f_nodes.result()
        part_stats = f_stats.result()
    metrics["nodes"] = emit.parquet_rows(f"{out_dir}/nodes")
    mark("finalize")

    if resumed_stages:
        metrics["resumed_stages"] = resumed_stages
    metrics["phases"] = phases
    metrics["wall_secs"] = round(time.time() - t0, 3)
    metrics["triples_per_sec"] = round(
        metrics["emitted_triples"] / max(metrics["wall_secs"], 1e-9), 1
    )
    commit = emit.write_manifest(out_dir, fingerprint, metrics, part_stats, t0)
    commit["resumed"] = False
    return commit


def driver_memory() -> str:
    """Driver heap for a local run: 40 % of the host's MemTotal
    (/proc/meminfo), capped at 24g, so the JVM fits next to the Python
    workers on a small host."""
    with open("/proc/meminfo") as f:
        kib = next(int(ln.split()[1]) for ln in f
                   if ln.startswith("MemTotal:"))
    return f"{max(1, min(24, int(kib * 0.4 / 2**20)))}g"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="/tmp/kg_out")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--replicate", type=int, default=1,
                    help="input scale-up factor (disjoint key spaces)")
    ap.add_argument("--master", default=None,
                    help="Spark master (default local[--cpus]); e.g. "
                         "local-cluster[4,2,6144] for multi-executor runs")
    ap.add_argument("--executor-mem", default=None,
                    help="spark.executor.memory for cluster masters (the "
                         "local-cluster[] mem field only sizes the WORKER; "
                         "executors default to 1g without this)")
    ap.add_argument("--shuffle-partitions", type=int, default=0,
                    help="fixed shuffle partitions (0 = max(cpus, 8)); the "
                         "scaling harness pins this so the job is identical "
                         "at both cluster sizes")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    master = args.master or f"local[{args.cpus}]"
    shuffle = args.shuffle_partitions or max(args.cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName("kg-construct")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                "8g" if "cluster" in master else driver_memory())
        .config("spark.sql.adaptive.enabled", "true")
        # AQE's partition coalescing shrinks post-shuffle stages to ~10
        # partitions at this data size — a bad makespan at 8+ cores (one
        # full wave + a ragged remainder). Shuffle width stays pinned at
        # --shuffle-partitions so the plan is identical at every cluster
        # size and every wave divides evenly.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # scratch/output parquet is small after compression; default
        # 128 MB split granularity would read it with 2-3 tasks
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # 128 MB broadcast budget (~1% of executor memory): lets AQE
        # convert the CC rewrite-map and violation-set joins to
        # broadcast from their RUNTIME size at bench scale while still
        # shuffling genuinely huge build sides — no forced broadcast
        # hints anywhere in the pipeline (a forced hint on a
        # data-proportional relation is a driver OOM at 100 TB)
        .config("spark.sql.autoBroadcastJoinThreshold", "128m")
        # the remaining (small) localCheckpoints — CC labels, violation
        # sets — store lz4-compressed: cross-executor block fetches move
        # ~5× fewer bytes for a negligible CPU cost
        .config("spark.rdd.compress", "true")
        # checkpointed blocks pin to the executor that wrote them; the
        # default 3 s locality wait then stalls EVERY stage wave that
        # reads them from another executor — on a multi-executor run
        # this serializes tens of seconds of pure waiting
        .config("spark.locality.wait", "0s")
    )
    if args.executor_mem:
        builder = builder.config("spark.executor.memory", args.executor_mem)
    evdir = os.environ.get("KG_EVENTLOG_DIR")
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evdir)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if os.environ.get("KG_WARM_CLUSTER"):
        # Warm the cluster before the measured window: executor
        # registration, Python daemon fork + pandas/pyarrow imports, and
        # first-job classloading are one-time PROVISIONING costs that a
        # long-running production job amortizes to zero; paying them
        # inside a short benchmark window would measure cluster spin-up,
        # not pipeline throughput. Identical at every cluster size.
        # exercise every expensive engine path once per executor:
        # Python-worker fork + Arrow (mapInPandas), shuffle write/read
        # (groupBy), and parquet encode/decode — so their JVM/JIT and
        # worker setup costs land in the warm window on every executor.
        import tempfile as _tf

        from pyspark.sql import functions as _F
        warm = spark.range(0, 1 << 18, 1, 64)
        warm.mapInPandas(lambda it: it, "id: long").count()
        wdir = _tf.mkdtemp(prefix="kg_warm_")
        (
            warm.select((_F.col("id") % 997).alias("k"),
                        _F.col("id").cast("string").alias("v"))
            .groupBy("k")
            .agg(_F.count(_F.lit(1)).alias("n"),
                 _F.sum(_F.crc32(_F.col("v").cast("binary"))).alias("f"))
            .write.mode("overwrite").parquet(f"{wdir}/warm")
        )
        spark.read.parquet(f"{wdir}/warm").count()
        import shutil as _sh
        _sh.rmtree(wdir, ignore_errors=True)

    if "cluster" in master:
        # multi-executor run: ship the package to executors the same way
        # spark-submit --py-files would
        import shutil
        import tempfile

        import shacl_rust_spark

        pkg_dir = os.path.dirname(os.path.dirname(
            os.path.abspath(shacl_rust_spark.__file__)))
        zip_base = os.path.join(tempfile.gettempdir(), "shacl_rust_spark_pkg")
        zip_path = shutil.make_archive(
            zip_base, "zip", root_dir=pkg_dir, base_dir="shacl_rust_spark")
        spark.sparkContext.addPyFile(zip_path)

    commit = run_pipeline(spark, args.sf_dir, args.out, args.replicate)
    print(json.dumps(commit))
    return 0


if __name__ == "__main__":
    sys.exit(main())
