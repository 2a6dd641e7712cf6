"""Stage 5: SHACL-validated triple emission + partitioned materialize
with manifest-based resume and per-partition lineage.

Validation: the canonicalized candidate triples (plus the entity
dictionary's rdf:type triples) become a TERM-struct data graph; the
pipeline shape set (sh:nodeKind IRI + sh:class ex:Nation on
ex:locatedIn) runs through the REAL validator engine; violating
(focus, value) pairs anti-join the candidate set — the
`triples LEFT ANTI JOIN violations` emission from SURVEY.md §1.4.

Materialize: parquet partitioned by predicate (`p`) — the same layout
an Iceberg `writeTo(...).partitionedBy("p").append()` would produce;
predicate-partitioned scans give partition pruning for triple-pattern
joins (SURVEY.md §4). Alongside the data:
  _manifest/commit.json   — run fingerprint + stage metrics
                            (the Iceberg snapshot-id stand-in)
  _manifest/partitions.json — per-predicate row counts + content
                            fingerprints (lineage)
Resume: if commit.json exists with the same fingerprint (inputs,
replicas, shapes, schema version — see `_fingerprint`) the run
short-circuits (the "resume from last committed snapshot" contract).
"""

from __future__ import annotations

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


def write_manifest(
    out_dir: str, fingerprint: str, metrics: dict, part_stats: list[dict],
    t0: float,
) -> dict:
    manifest_dir = f"{out_dir}/_manifest"
    os.makedirs(manifest_dir, exist_ok=True)
    with open(f"{manifest_dir}/partitions.json", "w") as f:
        json.dump(part_stats, f, indent=1)
    commit = {
        "fingerprint": fingerprint,
        "committed_at": time.time(),
        "write_secs": round(time.time() - t0, 3),
        "metrics": metrics,
        "partitions": len(part_stats),
    }
    with open(f"{manifest_dir}/commit.json", "w") as f:
        json.dump(commit, f, indent=1)
    return commit


ICEBERG_CATALOG_ENV = "SPARK_GRAFT_ICEBERG_CATALOG"


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Feature flag + runtime detection for a REAL Iceberg sink: returns
    the catalog name when (a) `SPARK_GRAFT_ICEBERG_CATALOG` (or conf
    `spark.shacl.iceberg.catalog`) names a catalog, (b) that catalog is
    configured with an Iceberg implementation, and (c) the Iceberg
    SparkCatalog class is on the JVM classpath. Any miss → None and the
    caller takes the parquet+manifest fallback, so the same pipeline
    binary runs in this jar-less container and on a real deployment."""
    name = os.environ.get(ICEBERG_CATALOG_ENV) or spark.conf.get(
        "spark.shacl.iceberg.catalog", None
    )
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


def write_triples_iceberg(
    triples: DataFrame,
    nodes: DataFrame,
    catalog: str,
    fingerprint: str,
    metrics: dict,
    namespace: str = "kg",
) -> dict:
    """Iceberg-proper materialize: `writeTo(...).partitionedBy("p")`
    atomic replace + the table's own snapshot id as the resume token
    (the manifest stand-in's `commit.json` role is played by Iceberg
    snapshot summary properties here)."""
    spark = triples.sparkSession
    t0 = time.time()
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
    tbl = f"{catalog}.{namespace}.triples"
    (
        triples.writeTo(tbl)
        .partitionedBy("p")
        .tableProperty("shacl.fingerprint", fingerprint)
        .createOrReplace()
    )
    (
        nodes.writeTo(f"{catalog}.{namespace}.nodes")
        .tableProperty("shacl.fingerprint", fingerprint)
        .createOrReplace()
    )
    snap = spark.sql(
        f"SELECT snapshot_id FROM {tbl}.snapshots "
        "ORDER BY committed_at DESC LIMIT 1"
    ).collect()[0][0]
    part_stats = partition_stats(spark.table(tbl))
    return {
        "backend": "iceberg",
        "table": tbl,
        "snapshot_id": snap,
        "fingerprint": fingerprint,
        "committed_at": time.time(),
        "write_secs": round(time.time() - t0, 3),
        "metrics": metrics,
        "partitions": len(part_stats),
        "partition_stats": part_stats,
    }


def read_committed_iceberg(
    spark: SparkSession, catalog: str, fingerprint: str, namespace: str = "kg"
) -> dict | None:
    """Resume check against the live Iceberg table: fingerprint property
    must match AND the current snapshot must still exist."""
    tbl = f"{catalog}.{namespace}.triples"
    try:
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect()
        }
    except Exception:  # noqa: BLE001 — table absent
        return None
    if props.get("shacl.fingerprint") != fingerprint:
        return None
    snaps = spark.sql(f"SELECT snapshot_id FROM {tbl}.snapshots").collect()
    if not snaps:
        return None
    return {"backend": "iceberg", "table": tbl, "fingerprint": fingerprint}


def write_triples(
    triples: DataFrame,
    nodes: DataFrame,
    out_dir: str,
    fingerprint: str,
    metrics: dict,
    backend: str = "auto",
) -> dict:
    """Partitioned materialize + manifest commit. Returns the manifest.

    backend: "auto" uses Iceberg when `iceberg_catalog()` resolves,
    else the parquet+manifest stand-in; "parquet"/"iceberg" force."""
    spark = triples.sparkSession
    if backend in ("auto", "iceberg"):
        cat = iceberg_catalog(spark)
        if cat is not None:
            return write_triples_iceberg(
                triples, nodes, cat, fingerprint, metrics
            )
        if backend == "iceberg":
            raise RuntimeError(
                "iceberg backend requested but no Iceberg catalog is "
                f"configured (set ${ICEBERG_CATALOG_ENV} and add the "
                "iceberg-spark-runtime jar)"
            )
    t0 = time.time()
    (
        triples.write.mode("overwrite")
        .partitionBy("p")
        .parquet(f"{out_dir}/triples")
    )
    nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")
    part_stats = partition_stats(spark.read.parquet(f"{out_dir}/triples"))
    return write_manifest(out_dir, fingerprint, metrics, part_stats, t0)


def read_committed(out_dir: str, fingerprint: str) -> dict | None:
    """Resume check: manifest with a matching input fingerprint."""
    path = f"{out_dir}/_manifest/commit.json"
    if not os.path.exists(path):
        return None
    with open(path) as f:
        commit = json.load(f)
    return commit if commit.get("fingerprint") == fingerprint else None
