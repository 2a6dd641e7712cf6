"""The measured process: one fresh JVM driven through the package's public
entry points. Started by run.py, never imported by it.

    python3 benchmark/worker.py <spec.json> <result.json>

Modes (spec["mode"]):
- kg:    a cold `run_pipeline` on the small input, then warm ones on the
         workload's input until `seconds` have passed;
- shacl: the cold request, one untimed pass over the rest of the stream
         (the sample) as a warm-up, then timed passes over the sample
         until `seconds` have passed.
With spec["trace"], the run instead makes the staged traced run of every
layer (the pipeline stages and the request sub-layers) next to an
untraced pass as the overhead reference, and reads the job groups' task
metrics back from the event log.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import host  # noqa: E402
from inputs import read_requests  # noqa: E402
from spans import KG_STAGES, Tracer, job_group_metrics  # noqa: E402


def settle(spark) -> None:
    """Collect garbage in both runtimes before a timed operation, so a
    collection the previous one left behind is not timed."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class Worker:
    def __init__(self, spec: dict):
        self.spec = spec
        self.tmp = spec["tmp_dir"]
        self.n_out = 0
        self.runs: list[dict] = []
        self.requests: list[dict] = []
        self.spark = None

    def fresh_out(self) -> str:
        self.n_out += 1
        return os.path.join(self.tmp, "out", str(self.n_out))

    # --- KG pipeline -----------------------------------------------------
    def pipeline_run(self, spark, label: str, sf_dir: str, replicas: int) -> float:
        from shacl_rust_spark.pipeline.run import run_pipeline

        out = self.fresh_out()
        rec = {"label": label, "out": out, "sf_dir": sf_dir,
               "replicas": replicas}
        settle(spark)
        cpu0 = host.session_cpu_s()
        t0 = time.perf_counter()
        try:
            commit = run_pipeline(spark, sf_dir, out, replicas=replicas)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = host.session_cpu_s() - cpu0
            rec["emitted"] = commit["metrics"]["emitted_triples"]
            rec["phases"] = commit["metrics"]["phases"]
        except Exception:  # a failed run is counted, the benchmark goes on
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = host.session_cpu_s() - cpu0
            rec["error"] = traceback.format_exc()
            print(rec["error"], file=sys.stderr)
        self.runs.append(rec)
        return rec["wall_s"]

    def staged_pipeline(self, spark, tracer: Tracer, sf_dir: str,
                        replicas: int) -> None:
        """The stage functions `run_pipeline` calls, in its order, each
        reading the previous stage's materialized output and forcing its
        own inside its span. Finalize's two actions run one after the
        other (run_pipeline overlaps them) so each job keeps its group."""
        from pyspark.sql import functions as F

        from shacl_rust_spark.pipeline import (
            assemble, cc, emit, extract, link, pages,
        )

        out = self.fresh_out()
        rec = {"label": "staged", "out": out, "sf_dir": sf_dir,
               "replicas": replicas}
        self.runs.append(rec)
        settle(spark)

        def materialize(df, name, partition_by=None):
            path = f"{out}/_scratch/{name}"
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(partition_by)
            w.parquet(path)
            return spark.read.parquet(path), emit.parquet_rows(path)

        t0 = time.time()
        with tracer.span("extract") as sp:
            pg = pages.pages(spark, sf_dir, replicas)
            mentions, sp["rows_out"] = materialize(
                extract.detect_mentions(extract.extract_text(pg)), "mentions")
        edict = pages.entity_dict(spark, sf_dir)
        with tracer.span("link") as sp:
            linked, sp["rows_out"] = materialize(
                link.link_mentions(mentions, edict), "linked")
            # the link phase's two metric collects in run_pipeline
            (linked.where(F.col("kind") == "lives_in")
             .groupBy("link_method").count().collect())
            (link.salted_count(linked.where(F.col("entity_id").isNotNull()),
                               "entity_id")
             .orderBy(F.col("n_mentions").desc()).limit(1).collect())
        with tracer.span("cc") as sp:
            cand = assemble.assemble_triples(linked)
            labels = cc.connected_components(assemble.sameas_edges(cand))
            row = labels.agg(F.count(F.lit(1)).alias("n"),
                             F.countDistinct("component").alias("c")).collect()[0]
            sp["nodes_out"] = row["n"]
        with tracer.span("canonicalize") as sp:
            canon = cc.canonicalize(
                cand.where(F.col("p") != assemble.P_SAME_AS)
                .select("s", "p", "o", "o_is_iri"),
                labels,
            ).dropDuplicates(["s", "p", "o"])
            candidates, sp["rows_out"] = materialize(canon, "candidates", "p")
            candidates = candidates.select("s", "p", "o", "o_is_iri")
        with tracer.span("validate") as sp:
            sp["plan_s"] = 0.0
            plain = emit.validate_dataset

            def timed(*args, **kwargs):
                t = time.perf_counter()
                try:
                    return plain(*args, **kwargs)
                finally:
                    sp["plan_s"] += time.perf_counter() - t

            emit.validate_dataset = timed
            try:
                valid, violations = emit.validate_candidates(
                    spark, candidates, edict)
            finally:
                emit.validate_dataset = plain
            sp["violations"] = violations.count()
        with tracer.span("emit") as sp:
            (valid.select("s", "p", "o", "o_is_iri")
             .write.mode("overwrite").partitionBy("p")
             .parquet(f"{out}/triples"))
            sp["rows_out"] = emit.parquet_rows(f"{out}/triples")
        with tracer.span("finalize"):
            written = spark.read.parquet(f"{out}/triples")
            nodes = written.select(
                F.explode(F.array_compact(F.array(
                    F.col("s"), F.when(F.col("o_is_iri"), F.col("o"))
                ))).alias("node")
            ).dropDuplicates(["node"])
            nodes.write.mode("overwrite").parquet(f"{out}/nodes")
            part_stats = emit.partition_stats(written)
            emit.write_manifest(out, "staged", {}, part_stats, t0)
        rec["wall_s"] = sum(s["s"] for s in tracer.spans
                            if s["name"] in KG_STAGES)

    # --- SHACL requests --------------------------------------------------
    def request(self, server, label: str, entry: dict) -> float:
        payload = {k: entry[k] for k in ("id", "tool", "args")}
        settle(self.spark)
        cpu0 = host.session_cpu_s()
        t0 = time.perf_counter()
        resp = server.handle_request(payload)
        wall = time.perf_counter() - t0
        rec = {"label": label, "case": entry["case"], "wall_s": wall,
               "cpu_s": host.session_cpu_s() - cpu0, "ok": resp["ok"]}
        if resp["ok"]:
            rec["conforms"] = json.loads(resp["result"])["conforms"]
            rec["report_bytes"] = len(resp["result"].encode())
        else:
            rec["error"] = resp["error"]
        self.requests.append(rec)
        return wall

    def staged_request(self, spark, tracer: Tracer, n: int, entry: dict) -> None:
        """`ToolServer.validate_graphs` with output_format json, one layer
        call at a time: parse both graphs, build the dataset, compile the
        shapes, build the validator plan, execute and render the report."""
        from shacl_rust_spark.engine.dataset import Dataset
        from shacl_rust_spark.engine.engine import Report, Validator
        from shacl_rust_spark.rdf import parse_rdf
        from shacl_rust_spark.shapes.parser import parse_shapes

        args = entry["args"]
        rec = {"label": "staged", "case": entry["case"], "ok": False}
        with tracer.span(f"request.{n}") as sp:
            try:
                t = time.perf_counter()
                data = parse_rdf(args["data_graph"], "ttl")
                shapes_graph = parse_rdf(args["shapes_graph"], "ttl")
                sp["parse_s"], t = time.perf_counter() - t, time.perf_counter()
                ds = Dataset.from_graphs(spark, data, shapes_graph)
                sp["dataset_s"], t = time.perf_counter() - t, time.perf_counter()
                shapes = parse_shapes(ds.shapes_graph)
                sp["compile_s"], t = time.perf_counter() - t, time.perf_counter()
                violations = Validator(ds).validate(shapes)
                sp["plan_s"], t = time.perf_counter() - t, time.perf_counter()
                result = json.dumps(Report(violations).to_json())
                sp["report_s"] = time.perf_counter() - t
                rec.update(ok=True, conforms=json.loads(result)["conforms"])
            except Exception as e:  # an error is an outcome (sht:Failure)
                rec["error"] = f"{type(e).__name__}: {e}"
        rec["wall_s"] = sp["s"]
        self.requests.append(rec)

    # --- modes -----------------------------------------------------------
    def run(self) -> dict:
        spec = self.spec
        ev_dir = os.path.join(self.tmp, "events") if spec["trace"] else None
        spark = self.spark = host.build_session(self.tmp, ev_dir,
                                                 spec.get("cores"))
        spark.range(1).count()
        result = {"ready_ts": time.time(), "ready_cpu_s": host.session_cpu_s()}
        try:
            result["probe_before_s"] = host.noise_probe(spark)
            if spec["trace"]:
                result.update(self.traced(spark))
            elif spec["mode"] == "kg":
                self.untraced_kg(spark)
            else:
                self.untraced_shacl(spark)
            result["probe_after_s"] = host.noise_probe(spark)
        finally:
            spark.stop()
        if ev_dir:
            result["groups"] = job_group_metrics(ev_dir)
        result["runs"] = self.runs
        result["requests"] = self.requests
        return result

    def untraced_kg(self, spark) -> None:
        kg = self.spec["kg"]
        self.pipeline_run(spark, "cold", kg["small_sf_dir"], kg["replicas"])
        start = time.perf_counter()
        while True:
            self.pipeline_run(spark, "warm", kg["sf_dir"], kg["replicas"])
            if time.perf_counter() - start >= self.spec["seconds"]:
                break

    def warm_up_requests(self, server, stream: list[dict]) -> list[dict]:
        """Send the stream's first (cold) request, then each request of the
        rest of the stream (the sample) once, so every case's code paths
        are compiled before it is timed; return the sample."""
        self.request(server, "cold", stream[0])
        for entry in stream[1:]:
            self.request(server, "warm-up", entry)
        return stream[1:]

    def untraced_shacl(self, spark) -> None:
        from shacl_rust_spark.server import ToolServer

        server = ToolServer(spark=spark)
        sample = self.warm_up_requests(
            server, read_requests(self.spec["requests"]))
        start = time.perf_counter()
        while True:
            for entry in sample:
                self.request(server, "warm", entry)
            if time.perf_counter() - start >= self.spec["seconds"]:
                break

    def traced(self, spark) -> dict:
        """After a warm-up, the workload's operation staged under the
        tracer, then untraced as the overhead reference. The untraced pass
        comes second, so warm-up still under way counts against the trace.
        The other family of layers is then traced on its small companion
        input, so every per-layer metric is measured on every workload."""
        from shacl_rust_spark.server import ToolServer

        kg = self.spec["kg"]
        stream = read_requests(self.spec["requests"])
        server = ToolServer(spark=spark)
        tracer = Tracer(spark)

        def staged_requests():
            sample = self.warm_up_requests(server, stream)
            for n, entry in enumerate(sample):
                self.staged_request(spark, tracer, n, entry)
            return sample

        def staged_pipeline():
            self.pipeline_run(spark, "cold", kg["small_sf_dir"], kg["replicas"])
            self.staged_pipeline(spark, tracer, kg["sf_dir"], kg["replicas"])

        if self.spec["mode"] == "kg":
            staged_pipeline()
            traced = self.runs[-1]["wall_s"]
            untraced = self.pipeline_run(
                spark, "warm", kg["sf_dir"], kg["replicas"])
            staged_requests()
        else:
            sample = staged_requests()
            traced = sum(s["s"] for s in tracer.spans)
            untraced = sum(self.request(server, "warm", e) for e in sample)
            staged_pipeline()
        return {"untraced_s": untraced, "traced_s": traced,
                "spans": tracer.spans}


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    result = Worker(spec).run()
    with open(sys.argv[2], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
