"""Stage 5: SHACL-validated triple emission — the pipeline's one sink
and its one commit protocol.

Validation: the canonicalized candidate triples (plus the entity
dictionary's rdf:type triples) become a TERM-struct data graph; the
pipeline shape set (sh:nodeKind IRI + sh:class ex:Nation on
ex:locatedIn) runs through the REAL validator engine; violating
(focus, value) pairs anti-join the candidate set — the
`triples LEFT ANTI JOIN violations` emission from SURVEY.md §1.4.

Layout (`write_triples`, the only writer of the run's output):
  triples/                  — parquet partitioned by predicate (`p`),
                              columns s, o, o_is_iri; predicate-partitioned
                              scans prune for triple-pattern joins
                              (SURVEY.md §4)
  nodes/                    — distinct subjects and IRI objects (`node`)
  _manifest/partitions.json — per-predicate row counts + content
                              fingerprints (lineage)
  _manifest/commit.json     — run fingerprint + stage metrics

Commit protocol (`_commit` / `_read_marker`; shared by the run
manifest, run.py's `_scratch/<name>._commit.json` stage snapshots and
streaming/ingest.py's per-batch manifests): a marker is withdrawn
BEFORE the data it guards is overwritten and committed AFTER that data
is complete, through a temp file + `os.replace`. A marker that is
missing, unreadable or for another fingerprint reads as None, so a
crashed or torn run recomputes and never resumes output that different
inputs, shapes or code produced. The fingerprint (`_fingerprint`)
covers the input files, replicas, the shapes text and
`PIPELINE_SCHEMA_VERSION`.

Iceberg: when the session conf `spark.shacl.iceberg.catalog` names a
catalog whose `spark.sql.catalog.<name>` implementation is Iceberg and
whose class loads (`iceberg_catalog`), triples and nodes go to
`<catalog>.kg.triples` (partitioned by `p`) and `<catalog>.kg.nodes`
instead, each stamped with the table property `shacl.fingerprint`; the
manifest still lands under `_manifest/`, and `read_committed` also
requires the live table's property to match.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.dataset import Dataset
from ..engine.engine import validate_dataset
from ..rdf.turtle import parse_turtle
from .assemble import EX, P_LOCATED_IN

PIPELINE_SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .

ex:LocatedInShape a sh:NodeShape ;
  sh:targetSubjectsOf ex:locatedIn ;
  sh:property [ sh:path ex:locatedIn ;
                sh:nodeKind sh:IRI ;
                sh:class ex:Nation ] .
ex:PlacedByShape a sh:NodeShape ;
  sh:targetSubjectsOf ex:placedBy ;
  sh:property [ sh:path ex:placedBy ; sh:nodeKind sh:IRI ; sh:minCount 1 ] .
"""


def to_term_triples(striples: DataFrame) -> DataFrame:
    """(s, p, o, o_is_iri) strings → engine TERM-struct triples."""
    mk_iri = lambda c: F.struct(  # noqa: E731
        F.lit("iri").alias("kind"), c.alias("value"),
        F.lit("").alias("datatype"), F.lit("").alias("lang"),
    )
    mk_lit = lambda c: F.struct(  # noqa: E731
        F.lit("lit").alias("kind"), c.alias("value"),
        F.lit("http://www.w3.org/2001/XMLSchema#string").alias("datatype"),
        F.lit("").alias("lang"),
    )
    return striples.select(
        mk_iri(F.col("s")).alias("s"),
        F.col("p"),
        F.when(F.col("o_is_iri"), mk_iri(F.col("o")))
        .otherwise(mk_lit(F.col("o"))).alias("o"),
    )


def entity_type_triples(entity_dict: DataFrame) -> DataFrame:
    return entity_dict.select(
        F.col("entity_id").alias("s"),
        F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias("p"),
        F.col("entity_class").alias("o"),
        F.lit(True).alias("o_is_iri"),
    ).dropDuplicates(["s", "o"])


def validate_candidates(
    spark: SparkSession, candidates: DataFrame, entity_dict: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """→ (valid candidate triples, violations). Violating (focus, value)
    pairs remove exactly the offending triples; whole-focus violations
    (no value) remove every triple of that subject.

    The caller materializes `candidates` (the pipeline writes them as
    predicate-partitioned scratch parquet, so every predicate-filtered
    scan inside the validator is partition-pruned and column-pruned);
    this function adds no defensive checkpoint of the big side.
    """
    graph = candidates.select("s", "p", "o", "o_is_iri").unionByName(
        entity_type_triples(entity_dict)
    )
    ds = Dataset(
        spark, to_term_triples(graph), parse_turtle(PIPELINE_SHAPES),
        cheap_pred=True,
        # candidates are dropDuplicates(["s","p","o"])-ed in run.py and
        # entity_type_triples dedups (s, o) under a constant predicate
        # disjoint from the extraction predicates — the union is a set
        distinct_triples=True,
    )
    # one execution of the validator plan; the two anti-join derivations
    # and the caller's metrics count all read the materialized result
    violations = validate_dataset(ds).violations.localCheckpoint(eager=True)

    pair_bad = (
        violations.where(F.col("value").isNotNull())
        .select(F.col("focus.value").alias("_bs"), F.col("value.value").alias("_bo"))
        .dropDuplicates(["_bs", "_bo"])
    )
    focus_bad = (
        violations.where(F.col("value").isNull())
        .select(F.col("focus.value").alias("_bs"))
        .dropDuplicates(["_bs"])
    )
    # No broadcast hint on the bad sets: they can reach millions of rows
    # (~100 MB), and a forced broadcast is a SERIAL driver build + a
    # per-executor deserialize — the part of the job that does NOT speed
    # up with more executors. A shuffled anti-join scales with the
    # cluster; AQE still converts to broadcast when the runtime size is
    # genuinely small.
    valid = (
        candidates.join(
            pair_bad,
            (candidates["s"] == F.col("_bs")) & (candidates["o"] == F.col("_bo")),
            "left_anti",
        ).join(focus_bad, candidates["s"] == focus_bad["_bs"], "left_anti")
    )
    return valid, violations


# Bump when a code change alters what the pipeline emits for the same
# inputs and shapes, so output committed by older code never resumes.
PIPELINE_SCHEMA_VERSION = 1


def _fingerprint(sf_dir: str, replicas: int) -> str:
    """Identity of everything that produced a run's output: each input
    file's path, size and footer row count, ``replicas``, the shapes
    text and the pipeline schema version. Driver-side only — parquet
    footers, no Spark job and no full-file read."""
    import hashlib

    import pyarrow.parquet as pq

    h = hashlib.sha256()
    for name in ("orders", "documents", "nation"):  # what pages.py reads
        path = os.path.abspath(f"{sf_dir}/{name}.parquet")
        rows = pq.ParquetFile(path).metadata.num_rows
        h.update(f"{path}\0{os.path.getsize(path)}\0{rows}\n".encode())
    h.update(f"replicas={replicas}\n".encode())
    h.update(f"schema={PIPELINE_SCHEMA_VERSION}\n".encode())
    h.update(PIPELINE_SHAPES.encode())
    return h.hexdigest()


def parquet_rows(path: str) -> int:
    """Exact row count from parquet footers — a driver-side metadata
    walk, no Spark job (the Iceberg snapshot `total-records` stand-in)."""
    import glob

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    )


def partition_stats(written_triples: DataFrame) -> list[dict]:
    """Per-predicate row counts + content fingerprints (lineage)."""
    return [
        r.asDict()
        for r in written_triples.groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.crc32(F.concat_ws("\x01", "s", "o").cast("binary")))
            .alias("content_fingerprint"),
        )
        .collect()
    ]


def _commit(marker: str, record: dict | list | None) -> None:
    """The one marker writer. ``None`` withdraws the marker — call it
    before overwriting the data it guards; a record commits atomically
    (temp file + ``os.replace``) once that data is complete, so a
    reader never sees a torn marker."""
    if record is None:
        with contextlib.suppress(FileNotFoundError):
            os.remove(marker)
        return
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(f"{marker}.tmp", "w") as f:
        json.dump(record, f, indent=1)
    os.replace(f"{marker}.tmp", marker)


def _read_marker(marker: str, fingerprint: str | None = None) -> dict | None:
    """A committed marker, or None when it is missing, unreadable or
    (given ``fingerprint``) committed for another run."""
    try:
        with open(marker) as f:
            record = json.load(f)
    except (OSError, ValueError):
        return None
    if fingerprint is not None and record.get("fingerprint") != fingerprint:
        return None
    return record


def write_manifest(
    out_dir: str, fingerprint: str, metrics: dict, part_stats: list[dict],
    t0: float,
) -> dict:
    """Commit the run manifest for output already written under
    ``out_dir`` (lineage first, then ``commit.json``)."""
    _commit(f"{out_dir}/_manifest/partitions.json", part_stats)
    commit = {
        "fingerprint": fingerprint,
        "committed_at": time.time(),
        "write_secs": round(time.time() - t0, 3),
        "metrics": metrics,
        "partitions": len(part_stats),
    }
    _commit(f"{out_dir}/_manifest/commit.json", commit)
    return commit


def iceberg_catalog(spark: SparkSession) -> str | None:
    """The Iceberg catalog the sink writes to, or None for the
    parquet layout: conf ``spark.shacl.iceberg.catalog`` must name a
    catalog whose ``spark.sql.catalog.<name>`` implementation is Iceberg
    and whose SparkCatalog class loads on the JVM."""
    name = spark.conf.get("spark.shacl.iceberg.catalog", None)
    if not name:
        return None
    impl = spark.conf.get(f"spark.sql.catalog.{name}", "") or ""
    if "iceberg" not in impl.lower():
        return None
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:  # noqa: BLE001 — Py4J wraps ClassNotFoundException
        return None
    return name


def write_triples(
    valid: DataFrame, out_dir: str, fingerprint: str, metrics: dict,
    t0: float,
) -> dict:
    """The pipeline's one sink: the valid triples (one partitioned
    write), their nodes, lineage stats, footer row counts and the
    manifest. Fills ``metrics`` (emitted_triples, nodes, the emit and
    finalize phases, wall_secs, triples_per_sec; plus the table and
    snapshot id under ``iceberg``) and returns the committed manifest.
    ``t0`` is the run's start time."""
    from concurrent.futures import ThreadPoolExecutor

    spark = valid.sparkSession
    catalog = iceberg_catalog(spark)
    phases = metrics.setdefault("phases", {})
    _commit(f"{out_dir}/_manifest/commit.json", None)

    def write(df: DataFrame, name: str, partition_by: str | None = None):
        """Overwrite one output table; → (reader, row count)."""
        if catalog is None:
            path = f"{out_dir}/{name}"
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(partition_by)
            w.parquet(path)
            return spark.read.parquet(path), parquet_rows(path)
        tbl = f"{catalog}.kg.{name}"
        w = df.writeTo(tbl).tableProperty("shacl.fingerprint", fingerprint)
        if partition_by:
            w = w.partitionedBy(F.col(partition_by))
        w.createOrReplace()
        snap, rows = spark.sql(
            f"SELECT snapshot_id, summary['total-records'] FROM "
            f"{tbl}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).collect()[0]
        if name == "triples":
            metrics["iceberg"] = {"table": tbl, "snapshot_id": snap}
        return spark.table(tbl), int(rows)

    t = time.time()
    if catalog is not None:
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.kg")
    written, metrics["emitted_triples"] = write(
        valid.select("s", "p", "o", "o_is_iri"), "triples", partition_by="p"
    )
    phases["emit"] = round(time.time() - t, 2)

    # nodes and lineage stats both scan the (small, compressed) written
    # output — independent actions, run concurrently
    t = time.time()
    nodes = written.select(
        F.explode(F.array_compact(F.array(
            F.col("s"), F.when(F.col("o_is_iri"), F.col("o"))
        ))).alias("node")
    ).dropDuplicates(["node"])
    with ThreadPoolExecutor(2) as pool:
        f_nodes = pool.submit(write, nodes, "nodes")
        f_stats = pool.submit(partition_stats, written)
        metrics["nodes"] = f_nodes.result()[1]
        part_stats = f_stats.result()
    phases["finalize"] = round(time.time() - t, 2)

    metrics["wall_secs"] = round(time.time() - t0, 3)
    metrics["triples_per_sec"] = round(
        metrics["emitted_triples"] / max(metrics["wall_secs"], 1e-9), 1
    )
    return write_manifest(out_dir, fingerprint, metrics, part_stats, t0)


def read_committed(
    spark: SparkSession, out_dir: str, fingerprint: str
) -> dict | None:
    """The one resume check: the manifest committed for ``fingerprint``,
    or None. With an Iceberg catalog the live triples table's
    ``shacl.fingerprint`` property must match too, so a dropped or
    since-replaced table never resumes."""
    commit = _read_marker(f"{out_dir}/_manifest/commit.json", fingerprint)
    catalog = iceberg_catalog(spark)
    if commit is None or catalog is None:
        return commit
    from pyspark.errors import AnalysisException

    try:
        props = dict(
            spark.sql(f"SHOW TBLPROPERTIES {catalog}.kg.triples").collect()
        )
    except AnalysisException:  # table absent
        return None
    return commit if props.get("shacl.fingerprint") == fingerprint else None
