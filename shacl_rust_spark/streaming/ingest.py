"""Incremental KG ingestion: Structured Streaming over the pages table.

The batch pipeline (pipeline/run.py) rebuilds the graph from a full
crawl snapshot; production also needs the INCREMENTAL path — new pages
arriving continuously, each micro-batch flowing through
extract → mention-detect → link → SHACL-validate and APPENDING to the
triple sink with per-batch lineage. This module is that path:

- `readStream` over the pages directory (new files = new work, the
  Common-Crawl drop-folder pattern), `foreachBatch` so the batch-grade
  stage functions (Arrow-UDF extraction, LSH linking, the set-oriented
  validator) run unchanged on each micro-batch.
- Exactly-once across restarts: Structured Streaming's checkpoint
  guarantees each input file is assigned to exactly one batch_id
  forever; on top, the write side is idempotent per batch — triples
  land under `batches/batch_id=N/` with mode("overwrite") and the
  lineage manifest is one `_manifests/batch-N.json` per batch under
  pipeline/emit.py's commit protocol (withdrawn before the overwrite,
  committed atomically after it), so a batch replayed after a
  mid-write crash overwrites only ITSELF.
- Canonicalization (sameAs connected components) is deliberately NOT
  per-batch: CC is a global fixpoint over all edges ever seen, so the
  periodic batch job owns it and reads this sink as its input — the
  standard incremental/consolidation split. Per-batch emission is
  still fully SHACL-validated.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def process_pages_batch(
    batch_df: DataFrame, batch_id: int, entity_dict: DataFrame, out_dir: str
) -> dict:
    """One micro-batch through the batch-grade stages; returns the
    batch's lineage manifest (also committed to
    `_manifests/batch-{id}.json`)."""
    from ..pipeline import assemble, emit, extract, link

    spark = batch_df.sparkSession
    t0 = time.time()
    mentions = extract.detect_mentions(extract.extract_text(batch_df))
    linked = link.link_mentions(mentions, entity_dict)
    cand = (
        assemble.assemble_triples(linked)
        .select("s", "p", "o", "o_is_iri")
        .dropDuplicates(["s", "p", "o"])
        .localCheckpoint(eager=True)  # one pass; valid + violation
    )                                 # counts both read it
    valid, violations = emit.validate_candidates(spark, cand, entity_dict)

    batch_dir = f"{out_dir}/batches/batch_id={batch_id}"
    marker = f"{out_dir}/_manifests/batch-{batch_id}.json"
    emit._commit(marker, None)  # a replay first withdraws its manifest
    valid.select("s", "p", "o").write.mode("overwrite").partitionBy(
        "p"
    ).parquet(batch_dir)
    manifest = {
        "batch_id": batch_id,
        "triples": emit.parquet_rows(batch_dir),
        "violations": violations.count(),
        "committed_at": time.time(),
        "write_secs": round(time.time() - t0, 3),
    }
    emit._commit(marker, manifest)
    return manifest


def ingest_pages_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    sf_dir: str,
    checkpoint_dir: str | None = None,
):
    """Start (and for the availableNow trigger, run to completion) the
    incremental ingestion query. Re-running with the same
    checkpoint_dir processes only files not yet ingested.

    The entity dictionary is (re)built on each micro-batch's OWN
    session — foreachBatch hands the batch frame on the streaming
    query's cloned session, and all frames in one plan must share a
    session."""
    checkpoint = checkpoint_dir or f"{out_dir}/_checkpoint"
    stream = spark.readStream.schema(PAGES_DDL).parquet(pages_dir)

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from ..pipeline import pages

        edict = pages.entity_dict(batch_df.sparkSession, sf_dir)
        process_pages_batch(batch_df, batch_id, edict, out_dir)

    q = (
        stream.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def read_ingested(spark: SparkSession, out_dir: str) -> DataFrame:
    """All triples committed by the incremental sink (s, p, o,
    batch_id) — the consolidation job's input. Reads ONLY batches whose
    atomic manifest rename landed: a torn batch directory left by a
    mid-write crash (part files on disk, no manifest) is invisible
    until the stream replays and commits it — the read side of the
    exactly-once contract."""
    committed = [m["batch_id"] for m in read_manifests(out_dir)]
    if not committed:
        return spark.createDataFrame(
            [], "s string, p string, o string, batch_id int"
        )
    paths = [f"{out_dir}/batches/batch_id={b}" for b in committed]
    return (
        spark.read.option("basePath", f"{out_dir}/batches").parquet(*paths)
    )


def read_manifests(out_dir: str) -> list[dict]:
    """The committed batch manifests, in batch order."""
    from ..pipeline.emit import _read_marker

    mdir = f"{out_dir}/_manifests"
    if not os.path.isdir(mdir):
        return []
    found = (_read_marker(f"{mdir}/{name}") for name in os.listdir(mdir)
             if name.startswith("batch-") and name.endswith(".json"))
    return sorted((m for m in found if m is not None),
                  key=lambda m: m["batch_id"])
