"""KG pipeline unit tests: extraction invariant, LSH linking,
connected components, validated emission, manifest resume."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from shacl_rust_spark.pipeline import (
    assemble, cc, emit, extract, link, pages,
)

SF = "/root/testdata/sf0.001"


def test_extract_byte_identical(spark):
    """The per-row invariant (BASELINE.json input_hint): extracted text
    is byte-identical to the page's source text per url."""
    pg = pages.pages(spark, SF)
    ext = extract.extract_text(pg)
    orig = pg.select("url", F.col("text").alias("orig"))
    bad = ext.join(orig, "url").where(
        F.encode("text", "UTF-8") != F.encode("orig", "UTF-8")
    )
    assert bad.isEmpty()


def test_detect_mentions_grammar(spark):
    ext = spark.createDataFrame(
        [("u1", "Order 7 was placed by Customer#3. "
                "Customer#3 lives in NATION_7X. Total value 5 USD."),
         ("u2", "Order 25 was placed by Client-9. "
                "Client-9 lives in NATION_1. Total value 9 USD. "
                "Client-9 is also known as Customer#9. "
                "Client2-9 is also known as Client-9.")],
        ["url", "text"],
    )
    rows = {
        (r.url, r.kind, r.subj_surface, r.obj_surface)
        for r in extract.detect_mentions(ext).collect()
    }
    assert rows == {
        ("u1", "placed_by", "Order-7", "Customer#3"),
        ("u1", "lives_in", "Customer#3", "NATION_7X"),
        ("u2", "placed_by", "Order-25", "Client-9"),
        ("u2", "lives_in", "Client-9", "NATION_1"),
        ("u2", "same_as", "Client-9", "Customer#9"),
        ("u2", "same_as", "Client2-9", "Client-9"),
    }


def test_run_pipeline_end_to_end(spark, tmp_path):
    from shacl_rust_spark.pipeline.run import run_pipeline

    out = str(tmp_path / "kg")
    commit = run_pipeline(spark, SF, out)
    m = commit["metrics"]
    assert m["pages"] > 0 and m["emitted_triples"] > 0
    assert m["links"]["exact"] > 0 and m["links"]["fuzzy"] > 0
    assert m["cc_components"] > 0 and m["violations"] > 0
    assert not commit["resumed"]
    # a second run with the same input fingerprint resumes from the
    # committed manifest without recomputing
    assert run_pipeline(spark, SF, out)["resumed"]


def test_seed_stage_cache_matches_fresh_build(spark, tmp_path):
    """Seeding the kg_* gate memo from a completed run_pipeline output
    (the bench fast path) yields row-identical frames to the gates'
    own in-session builds — including the validated frame, whose
    predicate column round-trips through partitioned-parquet directory
    names."""
    from shacl_rust_spark import queries_kg as K
    from shacl_rust_spark.pipeline.run import run_pipeline

    def _snap():
        return {
            key: {tuple(r) for r in K._memo(spark, SF, key, None).collect()}
            for key in ("mentions", "linked", "validated")
        }

    def _clear():
        for key in ("mentions", "linked", "validated"):
            K._STAGE_CACHE.pop((id(spark), SF, key), None)

    _clear()
    fresh_frames = (
        K.kg_mentions(spark, SF),
        K._linked(spark, SF),
        K.kg_validated_triples(spark, SF),
    )
    # dtypes (names + types, in order) — parquet round-trips widen
    # nullability, which neither the gates nor the oracle compare
    fresh_schemas = [f.dtypes for f in fresh_frames]
    fresh = _snap()
    _clear()
    out = str(tmp_path / "kg_seed")
    run_pipeline(spark, SF, out)
    K.seed_stage_cache(spark, SF, out)
    seeded_frames = (
        K.kg_mentions(spark, SF),
        K._linked(spark, SF),
        K.kg_validated_triples(spark, SF),
    )
    assert [f.dtypes for f in seeded_frames] == fresh_schemas
    assert _snap() == fresh
    _clear()


def test_fuzzy_link_typos(spark):
    m = spark.createDataFrame(
        [("u1", "lives_in", "Customer#1", "NATION_3X"),
         ("u2", "lives_in", "Customer#2", "NATION_14X"),
         ("u3", "lives_in", "Customer#3", "XYZZY_0"),
         ("u4", "lives_in", "Customer#4", "NATION_2")],
        ["url", "kind", "subj_surface", "obj_surface"],
    )
    out = {
        r.url: (r.entity_id, r.link_method)
        for r in link.link_mentions(m, pages.entity_dict(spark, SF)).collect()
    }
    assert out["u1"] == ("http://example.org/nation/3", "fuzzy")
    assert out["u2"] == ("http://example.org/nation/14", "fuzzy")
    assert out["u3"] == (None, "unlinked")
    assert out["u4"] == ("http://example.org/nation/2", "exact")


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"),   # chain a-b-c-d
         ("x", "y"),                             # pair
         ("m", "m")],                            # self loop
        ["src", "dst"],
    )
    expected = {"a": "a", "b": "a", "c": "a", "d": "a",
                "x": "x", "y": "x", "m": "m"}
    # driver-side union-find fast path (small edge set)
    labels = {r.node: r.component for r in cc.connected_components(edges).collect()}
    assert labels == expected
    # distributed min-label fixpoint (the at-scale path) — identical result
    dist = {
        r.node: r.component
        for r in cc.connected_components(edges, max_driver_edges=0).collect()
    }
    assert dist == expected


def test_connected_components_null_endpoints(spark):
    """Edges with a null src or dst carry no connectivity information
    and are dropped — identically on the driver union-find fast path and
    the distributed min-label fixpoint (VERDICT r2 #3: the fast path
    used to TypeError on nulls where the distributed path dropped
    them)."""
    edges = spark.createDataFrame(
        [("b", "a"), (None, "z"), ("z", None), (None, None), ("x", "y")],
        "src string, dst string",
    )
    expected = {"a": "a", "b": "a", "x": "x", "y": "x"}
    fast = {r.node: r.component
            for r in cc.connected_components(edges).collect()}
    dist = {r.node: r.component
            for r in cc.connected_components(edges, max_driver_edges=0)
            .collect()}
    assert fast == expected
    assert dist == expected


def test_connected_components_upstream_computes_once(spark):
    """The edge list is checkpointed BEFORE the driver-size probe, so
    the probe and whichever CC path follows share one materialization:
    an accumulator in the upstream plan must tick exactly once per edge
    row, not twice (VERDICT r2 #3 — probe double-compute)."""
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        for row in it:
            acc.add(1)
            yield row

    base = [("b", "a"), ("c", "b"), ("d", "c"), ("x", "y")]
    rdd = spark.sparkContext.parallelize(base, 2).mapPartitions(tick)
    edges = spark.createDataFrame(rdd, "src string, dst string")

    # distributed path (max_driver_edges=0): probe + fixpoint upstream
    labels = {r.node: r.component
              for r in cc.connected_components(edges, max_driver_edges=0)
              .collect()}
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "a",
                      "x": "x", "y": "x"}
    assert acc.value == len(base), (
        f"upstream edge plan ran {acc.value / len(base):.1f}× "
        "(expected exactly once)")


def test_cc_aqe_scoped_per_plan(spark):
    """The distributed CC fixpoint disables AQE only on its own cloned
    session (VERDICT r2 #6): while the loop runs in a background
    thread, the caller's session conf stays adaptive and a concurrent
    query planned on it still gets an AdaptiveSparkPlan."""
    import threading
    import time

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    # a chain propagates the min label one hop per round, keeping the
    # fixpoint alive for many iterations while we probe concurrently
    n = 16
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)]
    edges = spark.createDataFrame(chain, "src string, dst string")

    result = {}

    def run():
        result["labels"] = {
            r.node: r.component
            for r in cc.connected_components(edges, max_driver_edges=0)
            .collect()
        }

    t = threading.Thread(target=run)
    t.start()
    observed_conf, observed_plans = [], []
    from pyspark.sql import functions as F
    while t.is_alive() and len(observed_conf) < 200:
        observed_conf.append(spark.conf.get("spark.sql.adaptive.enabled"))
        if len(observed_plans) < 3:
            q = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
            observed_plans.append(
                q._jdf.queryExecution().executedPlan().toString()
            )
        time.sleep(0.05)
    t.join()

    assert observed_conf and set(observed_conf) == {"true"}, observed_conf[:5]
    assert observed_plans and all(
        "AdaptiveSparkPlan" in p for p in observed_plans
    )
    assert result["labels"] == {
        f"n{i:02d}": "n00" for i in range(n + 1)
    }


@pytest.mark.parametrize("op", [
    "pagerank", "personalized_pagerank", "hits", "markov_stationary",
    "connected_components",
])
def test_iterative_op_keeps_caller_session(spark, op):
    """Every scoped loop runs on its own cloned session: the caller's
    session stays adaptive and the result is bound back to it."""
    from shacl_rust_spark.ops import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    run = {
        "pagerank": lambda: graph.pagerank(edges),
        "personalized_pagerank": lambda: graph.personalized_pagerank(
            edges, spark.createDataFrame([("a",)], "node string")),
        "hits": lambda: graph.hits(edges),
        "markov_stationary": lambda: graph.markov_stationary(
            edges.withColumn("n", F.lit(2))),
        "connected_components": lambda: cc.connected_components(
            edges, max_driver_edges=0),
    }[op]
    out = run()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert out.sparkSession is spark
    assert out.count() == 4


def test_validated_emission_drops_unlinked(spark):
    cand = spark.createDataFrame(
        [("http://example.org/cust/1", assemble.P_LOCATED_IN,
          "http://example.org/nation/1", True),
         ("http://example.org/cust/2", assemble.P_LOCATED_IN,
          "XYZZY_0", False)],
        ["s", "p", "o", "o_is_iri"],
    )
    valid, violations = emit.validate_candidates(
        spark, cand, pages.entity_dict(spark, SF)
    )
    rows = valid.collect()
    assert len(rows) == 1 and rows[0].o == "http://example.org/nation/1"
    assert violations.count() >= 1


def test_stage_level_resume(spark, tmp_path):
    """A run that dies AFTER intermediate snapshots committed but BEFORE
    the final manifest resumes from the last committed stage snapshot:
    extract/link/CC/canonicalize are skipped, counters restored from the
    snapshot, and the emitted output is identical."""
    import os

    from shacl_rust_spark.pipeline.run import run_pipeline

    out = str(tmp_path / "kg")
    first = run_pipeline(spark, SF, out)
    m1 = first["metrics"]
    assert "resumed_stages" not in m1
    # simulate a crash after the scratch snapshots committed but before
    # the final manifest write
    os.remove(f"{out}/_manifest/commit.json")
    second = run_pipeline(spark, SF, out)
    m2 = second["metrics"]
    assert not second["resumed"]  # full-manifest resume did NOT trigger
    assert "candidates" in m2.get("resumed_stages", [])
    # skipped-stage counters restored from the snapshot metrics
    for k in ("links", "head_entity", "cc_nodes", "cc_components"):
        assert m2[k] == m1[k]
    assert m2["emitted_triples"] == m1["emitted_triples"]
    assert m2["nodes"] == m1["nodes"]


@pytest.mark.parametrize("change", ["shapes", "input"])
def test_resume_fingerprint_covers_shapes(spark, tmp_path, monkeypatch,
                                          change):
    """Output computed under different shapes or from different input
    never resumes, at the commit level or the stage level; identical
    inputs still do."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from shacl_rust_spark.pipeline.run import run_pipeline

    sf = SF
    if change == "input":
        sf = str(tmp_path / "sf")
        os.makedirs(sf)
        for name in ("orders", "documents", "nation"):
            shutil.copy(f"{SF}/{name}.parquet", sf)
    out = str(tmp_path / "kg")
    first = run_pipeline(spark, sf, out)
    again = run_pipeline(spark, sf, out)
    assert again["resumed"]
    assert again["fingerprint"] == first["fingerprint"]

    # stage level: scratch snapshots from the original run remain,
    # the commit manifest is gone
    os.remove(f"{out}/_manifest/commit.json")
    if change == "shapes":
        relaxed = emit.PIPELINE_SHAPES.replace(
            " ;\n                sh:class ex:Nation", "")
        assert relaxed != emit.PIPELINE_SHAPES
        monkeypatch.setattr(emit, "PIPELINE_SHAPES", relaxed)
    else:
        nation = f"{sf}/nation.parquet"
        pq.write_table(pq.read_table(nation).slice(1), nation)
    changed = run_pipeline(spark, sf, out)
    assert not changed["resumed"]
    assert "resumed_stages" not in changed["metrics"]
    assert changed["fingerprint"] != first["fingerprint"]
    if change == "shapes":
        assert (changed["metrics"]["violations"]
                != first["metrics"]["violations"])

    # commit level: the manifest now holds the changed run
    if change == "shapes":
        monkeypatch.undo()
    else:
        shutil.copy(f"{SF}/nation.parquet", sf)
    back = run_pipeline(spark, sf, out)
    assert not back["resumed"]
    assert "resumed_stages" not in back["metrics"]
    assert back["fingerprint"] == first["fingerprint"]
    assert back["metrics"]["violations"] == first["metrics"]["violations"]
    assert (back["metrics"]["emitted_triples"]
            == first["metrics"]["emitted_triples"])


def test_crashed_run_never_resumes_stale_output(spark, tmp_path, monkeypatch):
    """A run that dies after overwriting triples/ but before its manifest
    commits leaves no manifest behind: rerunning the earlier, committed
    run recomputes, and its manifest counts what is on disk."""
    from shacl_rust_spark.pipeline.run import run_pipeline

    out = str(tmp_path / "kg")
    first = run_pipeline(spark, SF, out)

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the manifest")

    with monkeypatch.context() as m:
        m.setattr(emit, "PIPELINE_SHAPES", emit.PIPELINE_SHAPES.replace(
            "sh:minCount 1", "sh:maxCount 0"))
        m.setattr(emit, "write_manifest", crash)
        with pytest.raises(RuntimeError, match="crash before the manifest"):
            run_pipeline(spark, SF, out)
    rerun = run_pipeline(spark, SF, out)
    assert not rerun["resumed"]
    assert (emit.parquet_rows(f"{out}/triples")
            == rerun["metrics"]["emitted_triples"]
            == first["metrics"]["emitted_triples"])


def test_torn_marker_recomputes(spark, tmp_path):
    """A truncated run manifest or stage marker reads as uncommitted:
    the rerun succeeds, recomputes from the last intact snapshot and
    emits what the first run did."""
    import os

    from shacl_rust_spark.pipeline.run import run_pipeline

    def tear(path):
        with open(path, "r+") as f:
            f.truncate(os.path.getsize(path) // 2)

    out = str(tmp_path / "kg")
    n = run_pipeline(spark, SF, out)["metrics"]["emitted_triples"]

    tear(f"{out}/_manifest/commit.json")
    second = run_pipeline(spark, SF, out)
    assert not second["resumed"]
    assert second["metrics"]["resumed_stages"] == ["mentions", "candidates"]
    assert second["metrics"]["emitted_triples"] == n

    tear(f"{out}/_manifest/commit.json")
    tear(f"{out}/_scratch/candidates._commit.json")
    third = run_pipeline(spark, SF, out)
    assert not third["resumed"]
    assert third["metrics"]["resumed_stages"] == ["mentions", "linked"]
    assert third["metrics"]["emitted_triples"] == n


def test_manifest_resume(spark, tmp_path):
    import time

    out = str(tmp_path / "kg")
    t = spark.createDataFrame(
        [("s1", "p1", "o1", True)], ["s", "p", "o", "o_is_iri"]
    )
    commit = emit.write_triples(t, out, "fp:42", {}, time.time())
    assert commit["metrics"]["emitted_triples"] == 1
    assert commit["metrics"]["nodes"] == 2  # s1 and the IRI object o1
    assert emit.read_committed(spark, out, "fp:42") is not None
    assert emit.read_committed(spark, out, "fp:other") is None
    with open(f"{out}/_manifest/partitions.json") as f:
        parts = json.load(f)
    assert parts and parts[0]["rows"] == 1


def test_iceberg_flag_detection_and_fallback(spark, tmp_path):
    """iceberg_catalog() resolves to None when the conf is unset and
    when it names a catalog that is not configured, and the sink then
    writes the parquet layout."""
    import time

    key = "spark.shacl.iceberg.catalog"
    prior = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        assert emit.iceberg_catalog(spark) is None
        spark.conf.set(key, "icy")
        assert emit.iceberg_catalog(spark) is None  # no spark.sql.catalog.icy
        out = str(tmp_path / "kg")
        t = spark.createDataFrame(
            [("s1", "p1", "o1", True)], ["s", "p", "o", "o_is_iri"]
        )
        commit = emit.write_triples(t, out, "fp:ice", {}, time.time())
        assert "iceberg" not in commit["metrics"]
        assert emit.parquet_rows(f"{out}/triples") == 1
        assert emit.read_committed(spark, out, "fp:ice") is not None
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_iceberg_backend_roundtrip(spark, tmp_path):
    """The sink's Iceberg branch against a live catalog: detection,
    partitioned write + snapshot id, resume hit and miss, snapshot
    advance + time travel, no resume after the table is dropped, and
    partition pruning. Skips unless the session has an Iceberg catalog;
    to run it, put the runtime jar and a catalog on the test JVM:

        PYSPARK_SUBMIT_ARGS="--jars iceberg-spark-runtime-3.5_2.12.jar \
          --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog \
          --conf spark.sql.catalog.local.type=hadoop \
          --conf spark.sql.catalog.local.warehouse=/tmp/iceberg_warehouse \
          --conf spark.shacl.iceberg.catalog=local \
          --driver-memory 8g pyspark-shell" \
        python -m pytest tests/test_pipeline.py -k iceberg_backend_roundtrip
    """
    import io
    import time
    from contextlib import redirect_stdout

    cat = emit.iceberg_catalog(spark)
    if cat is None:
        pytest.skip("no Iceberg catalog configured in this runtime")
    out = str(tmp_path / "kg")
    t = spark.createDataFrame(
        [("s1", "p1", "o1", True), ("s2", "p2", "o2", True),
         ("s3", "p1", "o3", False)],
        ["s", "p", "o", "o_is_iri"],
    )

    # partitioned write with a live snapshot id
    c1 = emit.write_triples(t, out, "fp:a", {}, time.time())
    ice1 = c1["metrics"]["iceberg"]
    tbl = ice1["table"]
    assert tbl == f"{cat}.kg.triples" and ice1["snapshot_id"]
    assert c1["partitions"] == 2 and c1["metrics"]["emitted_triples"] == 3
    assert spark.table(tbl).count() == 3
    assert spark.table(f"{cat}.kg.nodes").count() == c1["metrics"]["nodes"] == 5
    assert spark.sql(f"SELECT * FROM {tbl}.partitions").count() == 2

    # resume hit / miss
    assert emit.read_committed(spark, out, "fp:a") is not None
    assert emit.read_committed(spark, out, "fp:OTHER") is None

    # snapshot advance; time travel still reads the first snapshot
    t2 = t.unionByName(spark.createDataFrame(
        [("s4", "p3", "o4", True)], ["s", "p", "o", "o_is_iri"]))
    c2 = emit.write_triples(t2, out, "fp:b", {}, time.time())
    assert c2["metrics"]["iceberg"]["snapshot_id"] != ice1["snapshot_id"]
    assert spark.sql(
        f"SELECT count(*) FROM {tbl} VERSION AS OF {ice1['snapshot_id']}"
    ).collect()[0][0] == 3

    # a resume never outlives the table it names
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert emit.read_committed(spark, out, "fp:b") is None

    # a single-predicate read pushes its filter into the Iceberg scan
    emit.write_triples(t2, out, "fp:c", {}, time.time())
    buf = io.StringIO()
    with redirect_stdout(buf):
        spark.table(tbl).where("p = 'p1'").explain(True)
    plan = buf.getvalue()
    assert "p1" in plan and ("filters=" in plan or "Filter" in plan)
