"""Stage 3: canonicalization — connected components over sameAs edges.

Iterative min-label propagation (the standard large-graph CC on
DataFrames): every node starts as its own label; each round joins
current labels across the (undirected) edge set, takes the per-node min
of neighbor labels, and stops at fixpoint. ``localCheckpoint`` per
round cuts the lineage chain (SURVEY.md §4: Catalyst has no recursive
queries — this loop is the custom iteration driver, same machinery as
the Kleene-path fixpoint in engine/paths.py).

Rounds needed = graph diameter (≤ log n with doubling variants; the
sameAs chains here are short, and real sameAs components are small).
Each round is one shuffle on the node key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_ITERS = 50

# Scale-adaptive fast path: below this edge count the component
# structure fits trivially on the driver, and a union-find there beats
# ~2 Spark jobs per fixpoint round by an order of magnitude (the same
# capped-driver-side policy as the ontology closures in
# engine/dataset.py). Above the cap — any real web-scale run — the
# distributed min-label fixpoint below is the path taken.
_MAX_DRIVER_EDGES = 100_000


def _driver_cc(rows) -> list[tuple[str, str]]:
    """Union-find with lexicographic-min representatives — identical
    semantics to the distributed min-label fixpoint."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the lexicographically smaller id as representative
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(n, find(n)) for n in parent]


def _scoped_session(spark, confs: dict):
    """A sibling SparkSession sharing the SparkContext but with its OWN
    SQL conf (copied from the parent at clone time, runtime-set values
    included) and ``confs`` set on top, so per-algorithm conf overrides
    don't leak into concurrently running jobs on the caller's session.
    The clone is simply dropped afterwards — nothing to restore.
    ``SparkSession.cloneSession`` is ``private[sql]`` in Scala, which
    compiles to a public JVM method — callable through the gateway."""
    from pyspark.sql import SparkSession

    session = SparkSession(
        spark.sparkContext, spark._jsparkSession.cloneSession()
    )
    for key, value in confs.items():
        session.conf.set(key, value)
    return session


# Iterative loops run with AQE off: its per-stage re-planning barriers
# add fixed latency to every tiny iterative job and can re-coalesce away
# the static co-partitioning the loops rely on.
_AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


def _rebind(df: DataFrame, session) -> DataFrame:
    """Re-home a MATERIALIZED (checkpointed) DataFrame onto another
    session of the same SparkContext, JVM-side (javaRDD → createDataFrame,
    no Python pass) — cross-session plan mixing is not supported, so
    frames must be converted at the session boundary."""
    jdf = session._jsparkSession.createDataFrame(
        df._jdf.javaRDD(), df._jdf.schema()
    )
    return DataFrame(jdf, session)


def connected_components(
    edges: DataFrame, max_driver_edges: int = _MAX_DRIVER_EDGES
) -> DataFrame:
    """edges(src string, dst string) → (node string, component string)
    with component = lexicographic min node id of the component.

    Null endpoints are dropped (an edge with no src or dst carries no
    connectivity information) — uniformly on both the driver fast path
    and the distributed fixpoint.

    The distributed fixpoint runs with AQE disabled (``_AQE_OFF``),
    scoped PER-PLAN: the loop executes on a cloned SparkSession (shared
    SparkContext, isolated SQL conf), so concurrent jobs on the caller's
    session keep AQE. The result is re-homed onto the caller's session
    before returning.
    """
    spark = edges.sparkSession
    # Materialize the (narrow) edge list ONCE before the size probe so
    # the probe and whichever path follows share a single upstream scan
    # — otherwise the distributed path would recompute the full
    # extraction/linking upstream a second time.
    edges = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .localCheckpoint(eager=True)
    )
    probe = edges.limit(max_driver_edges + 1).collect()
    if len(probe) <= max_driver_edges:
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType([
            StructField("node", StringType()),
            StructField("component", StringType()),
        ])
        return spark.createDataFrame(_driver_cc(probe), schema)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_spark = _scoped_session(spark, _AQE_OFF)
    edges = _rebind(edges, loop_spark).localCheckpoint(eager=True)
    # The edge set is static across iterations: hash-partition it by the
    # join key ONCE (checkpoint preserves the partitioning, SPARK-22905)
    # so each round's join re-shuffles only the (smaller) labels side.
    # Built from the materialized frame — a union of two selects over a
    # lazy frame would re-run the upstream scan per branch.
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .dropDuplicates(["a", "b"])
        .repartition(n_parts, "b")
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("a").alias("node"))
        .dropDuplicates(["node"])
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_MAX_ITERS):
        # one shuffle per round: the old label rides along (tagged)
        # so change detection is a cheap scan of the checkpointed
        # result instead of a second join
        nbr = (
            und.join(labels, und["b"] == labels["node"])
            .select(F.col("a").alias("node"), F.col("component"),
                    F.lit(0).alias("_own"))
        )
        own = labels.select("node", "component", F.lit(1).alias("_own"))
        merged = (
            own.unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max(F.when(F.col("_own") == 1, F.col("component")))
                .alias("_old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            merged.where(F.col("component") != F.col("_old")).limit(1).count()
        )
        labels = merged.select("node", "component")
        if changed == 0:
            # back across the session boundary; the projection reads the
            # checkpointed `merged`, so the rebind is one cheap JVM pass
            # over the (small) label set
            return _rebind(labels, spark)
    raise RuntimeError("connected components did not converge")


def canonicalize(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """Rewrite subject/object IRIs to their component representative.

    labels is small relative to triples (only aliased nodes), and
    identity labels (node == component, the representative itself) are
    no-op rewrites — filtering them out shrinks the join's build side
    and leaves the coalesce fallback to do the right thing. No FORCED
    broadcast hint: the rewrite map scales with the alias population
    (millions of rows at web scale — a forced broadcast is a driver
    OOM risk and a serial build). AQE picks broadcast when the runtime
    size is under spark.sql.autoBroadcastJoinThreshold and a shuffled
    join when it is not, which is exactly the right behavior at every
    scale.
    """
    rewrites = labels.where(F.col("node") != F.col("component"))
    ls = rewrites.select(F.col("node").alias("_sn"),
                         F.col("component").alias("_sc"))
    lo = rewrites.select(F.col("node").alias("_on"),
                         F.col("component").alias("_oc"))
    passthrough = [c for c in triples.columns if c not in ("s", "o")]
    return (
        triples.join(ls, triples["s"] == F.col("_sn"), "left")
        .join(lo, triples["o"] == F.col("_on"), "left")
        .select(
            F.coalesce(F.col("_sc"), F.col("s")).alias("s"),
            F.coalesce(F.col("_oc"), F.col("o")).alias("o"),
            *passthrough,
        )
    )


def incremental_components(
    labels: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """Incremental connected components: yesterday's (node, component)
    labeling + today's new edges → the labeling of the UNION graph,
    recomputing only what the new edges touch — the daily-crawl twin
    of dedup_incremental for the sameAs consolidation graph. At
    10^12 documents a full CC re-run per increment is the bottleneck;
    the quotient trick makes the incremental cost a function of the
    DELTA: new-edge endpoints are rewritten to their current
    component representatives, edges that collapse to a self-loop
    (both endpoints already co-component) drop out, and the closure
    runs on the remaining QUOTIENT graph — component-count-sized at
    worst, delta-sized in practice — never on the full edge set.

    Correctness: contracting each existing component to its
    representative is a graph quotient, and CC commutes with
    quotienting, so relabeling old components through the quotient's
    labeling equals CC of the union graph. Representatives stay the
    lexicographic min node id: old labels are min-ids, unseen nodes
    enter as their own id, and the quotient closure takes the min of
    those — the global min of the merged node set."""
    e = (
        new_edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
    )
    lab = labels.select("node", "component")
    src_lab = lab.select(F.col("node").alias("src"),
                         F.col("component").alias("_cs"))
    dst_lab = lab.select(F.col("node").alias("dst"),
                         F.col("component").alias("_cd"))
    quotient = (
        e.join(src_lab, "src", "left")
        .join(dst_lab, "dst", "left")
        .select(
            F.coalesce(F.col("_cs"), F.col("src")).alias("src"),
            F.coalesce(F.col("_cd"), F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    merge_map = connected_components(quotient).select(
        F.col("node").alias("component"),
        F.col("component").alias("_newc"),
    )
    new_nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .dropDuplicates(["node"])
        .join(lab.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    all_labels = lab.unionByName(new_nodes)
    return (
        all_labels.join(merge_map, "component", "left")
        .select(
            "node",
            F.coalesce(F.col("_newc"), F.col("component"))
            .alias("component"),
        )
    )
