"""Graph analytics over the constructed knowledge graph.

The KG pipeline (pipeline/run.py) emits a typed entity graph; a
downstream consumer ranks entities by structural importance (salience
for entity-linking priors, crawl scheduling, display ordering) and
inspects degree shape (hub detection, skew diagnosis before a join).
These operators take a generic ``edges(src string, dst string)`` frame
so they run on any edge list — the gate queries build one from the
TPC-H-shaped tables the same way the KG links rows to entities.

PageRank here is the FIXED-POINT-INTEGER variant: ranks are BIGINT
micro-units (``scale`` = 1 rank unit) and every step is integer
arithmetic (``DIV``), so the result is bit-identical regardless of
execution order, partitioning, or engine — float PageRank sums in
whatever order the shuffle delivers and drifts in the last ulps,
which would make a cross-engine hash-exact oracle a coin flip.
Semantics notes (both deliberate, both deterministic):

- dangling mass is DROPPED, not redistributed: a sink node's rank
  leaks out of the system each iteration instead of being spread over
  all nodes. Redistribution needs a global scalar per iteration
  (another action per round); the dropped-mass variant preserves the
  same relative ordering for ranking use.
- per-edge shares use floor division, so up to ``outdeg-1`` units of
  a node's rank are truncated per iteration — at scale=1e12 that is
  a relative error ≤ outdeg/1e12 per step.

Scale design (100 TB): the edge list is the big side — it is hash-
partitioned by ``src`` ONCE and checkpointed (SPARK-22905 preserves
the partitioning), so each iteration re-shuffles only the ranks frame
(one row per node). One iteration = join(edges, ranks on src) →
groupBy(dst) partial-agg sum → left join back to nodes: two shuffles
of node-cardinality data, zero re-scans of the edge list.
``localCheckpoint`` per iteration cuts the lineage chain (Catalyst
has no recursive plans — SURVEY.md §4). PageRank, personalized
PageRank and the Markov mass vector are one recurrence
(:func:`_power_iteration`); it and HITS run with AQE off on a session
cloned by ``pipeline.cc._scoped_session``, so the static
co-partitioning isn't re-coalesced away and concurrent jobs on the
caller's session keep AQE. The loop frames cross back to the caller's
session through ``_rebind``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.cc import _AQE_OFF, _rebind, _scoped_session

DEFAULT_SCALE = 10**12


def _clean_edges(edges: DataFrame) -> DataFrame:
    return (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
    )


def _power_iteration(
    trans: DataFrame,
    seeds: DataFrame | None,
    iterations: int,
    damping_pct: int,
    scale: int,
) -> DataFrame:
    """The fixed-point-integer power iteration shared by pagerank,
    personalized_pagerank and markov_stationary: trans(src, dst, n
    bigint) with set semantics (one row per (src, dst)), seeds(node) or
    None for "every node is a seed" → (node, rank_scaled bigint) on the
    caller's session, empty when no node is a seed.

    rank⁰ = scale DIV s on each seed (s = number of seed nodes), 0
    elsewhere; with rowtot(u) = Σ_{u→w} n_uw,
    rankᵏ⁺¹(v) = [v seed]·((100−d)·(scale DIV s)) DIV 100
                 + (d · Σ_{u→v} (rankᵏ(u)·n_uv) DIV rowtot(u)) DIV 100.

    Plan: the transition list is partitioned by src ONCE with rowtot
    riding along, so each step shuffles only the node-cardinality rank
    frame; the seed flag rides the node frame so the teleport term is a
    codegen'd conditional, not a join."""
    spark = trans.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_spark = _scoped_session(spark, _AQE_OFF)
    trans = _rebind(trans.localCheckpoint(eager=True), loop_spark)
    rowtot = trans.groupBy("src").agg(F.sum("n").alias("rowtot"))
    linked = (
        trans.join(rowtot, "src")
        .repartition(n_parts, "src")
        .localCheckpoint(eager=True)
    )
    nodes = (
        trans.select(F.col("src").alias("node"))
        .unionByName(trans.select(F.col("dst").alias("node")))
        .dropDuplicates(["node"])
    )
    if seeds is None:
        nodes = nodes.withColumn("_is_seed", F.lit(1))
    else:
        seeds = _rebind(seeds.select("node"), loop_spark)
        nodes = (
            nodes.join(seeds.dropDuplicates(["node"])
                       .withColumn("_is_seed", F.lit(1)), "node", "left")
            .select("node",
                    F.coalesce("_is_seed", F.lit(0)).alias("_is_seed"))
        )
    nodes = nodes.repartition(n_parts, "node").localCheckpoint(eager=True)
    s = nodes.where(F.col("_is_seed") == 1).count()
    if s == 0:
        return spark.createDataFrame([], "node string, rank_scaled bigint")
    base = scale // s
    teleport = ((100 - damping_pct) * base) // 100
    is_seed = F.col("_is_seed") == 1
    ranks = nodes.select(
        "node",
        F.when(is_seed, F.lit(base)).otherwise(F.lit(0))
        .cast("bigint").alias("rank_scaled"),
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        contrib = (
            linked.join(ranks, linked["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr("(rank_scaled * n) DIV rowtot").alias("share"),
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                nodes["node"],
                (
                    F.when(is_seed, F.lit(teleport)).otherwise(F.lit(0))
                    + F.expr(
                        f"({damping_pct} * coalesce(inflow, 0L)) DIV 100"
                    )
                ).cast("bigint").alias("rank_scaled"),
            )
            .localCheckpoint(eager=True)
        )
    return _rebind(ranks, spark)


def _unit_transitions(edges: DataFrame) -> DataFrame:
    """Deduplicated edges as unit-weight transitions: rowtot = out-degree,
    so the shared power iteration's share is rank DIV outdeg."""
    return _clean_edges(edges).withColumn("n", F.lit(1).cast("bigint"))


def pagerank(
    edges: DataFrame,
    iterations: int = 6,
    damping_pct: int = 85,
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """edges(src, dst) → (node string, rank_scaled bigint) after
    ``iterations`` rounds of integer fixed-point PageRank.

    rank⁰ = scale DIV n  for every node;
    rankᵏ⁺¹(v) = ((100-d)·base) DIV 100
                 + (d · Σ_{u→v} rankᵏ(u) DIV outdeg(u)) DIV 100.

    Duplicate and null-endpoint edges are dropped (set semantics —
    a repeated assertion is one link). ``damping_pct`` is an integer
    percentage so the teleport/damping split stays in ℤ. Every node is
    a seed of :func:`_power_iteration`.
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    return _power_iteration(
        _unit_transitions(edges), None, iterations, damping_pct, scale
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 4,
    damping_pct: int = 85,
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED
    set): edges(src, dst) + seeds(node) → (node, rank_scaled) for
    every node with rank > 0 — proximity to the seeds, the standard
    KG entity-similarity / recommendation primitive (SALSA/PPR
    family). Same fixed-point-integer device as pagerank, with the
    teleport mass restricted to seeds:

    rank⁰ = scale DIV s on each seed (s = |seeds ∩ graph|), 0
    elsewhere; rankᵏ⁺¹(v) = [v∈seeds]·((100−d)·(scale DIV s)) DIV 100
    + (d · Σ_{u→v} rankᵏ(u) DIV outdeg(u)) DIV 100. All BIGINT, so
    the result is bit-identical on any engine / partitioning.

    Plan: the :func:`_power_iteration` loop pagerank runs, with only
    the seed nodes teleporting. Nodes the walk never reaches keep
    rank 0 and are dropped at the end (PPR output is seed-local by
    design, typically ≪ |V|)."""
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    ranks = _power_iteration(
        _unit_transitions(edges), seeds, iterations, damping_pct, scale
    )
    return ranks.where(F.col("rank_scaled") > 0)


def hits(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """edges(src, dst) → (node, authority, hub) after ``iterations``
    rounds of UNNORMALIZED integer HITS (Kleinberg 1999):

        h⁰(u) = 1;  aᵏ(v) = Σ_{u→v} hᵏ⁻¹(u);  hᵏ(u) = Σ_{u→v} aᵏ(v).

    The textbook per-step L2 normalization only rescales — rankings
    are scale-invariant — so it is dropped to keep every value BIGINT
    and the result bit-identical across engines and partitionings
    (pagerank's fixed-point-integer device). Values grow like
    (d_max²)^k, so iterations stays small (the gate uses 3; deep
    iteration at scale is the float+normalize variant, deliberately
    not this oracle-exact one). Duplicate/null edges are dropped —
    set semantics, same as pagerank.

    Scale shape: the edge list is checkpointed once per join key
    (by src for the authority half-step, by dst for the hub half-step)
    and never re-scanned; each half-step shuffles only the
    node-cardinality score frame. AQE off on a cloned session so the
    static co-partitioning isn't coalesced away mid-loop.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_spark = _scoped_session(spark, _AQE_OFF)
    edges = _rebind(_clean_edges(edges).localCheckpoint(eager=True),
                    loop_spark)
    e_src = edges.repartition(n_parts, "src").localCheckpoint(eager=True)
    e_dst = edges.repartition(n_parts, "dst").localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .dropDuplicates(["node"])
        .repartition(n_parts, "node")
        .localCheckpoint(eager=True)
    )
    hub = nodes.withColumn("h", F.lit(1).cast("bigint"))
    for _ in range(iterations):
        inflow = (
            e_src.join(hub, e_src["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
        )
        auth = (
            nodes.join(inflow, nodes["node"] == inflow["dst"], "left")
            .select(
                "node",
                F.coalesce("a", F.lit(0)).cast("bigint").alias("a"),
            )
            .localCheckpoint(eager=True)
        )
        outflow = (
            e_dst.join(auth, e_dst["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
        )
        hub = (
            nodes.join(outflow, nodes["node"] == outflow["src"], "left")
            .select(
                "node",
                F.coalesce("h", F.lit(0)).cast("bigint").alias("h"),
            )
            .localCheckpoint(eager=True)
        )
    out = auth.join(hub, "node").select(
        "node",
        F.col("a").alias("authority"),
        F.col("h").alias("hub"),
    )
    return _rebind(out, spark)


def scc(edges: DataFrame, max_pairs: int = 2_000_000) -> DataFrame:
    """edges(src, dst) → (node, scc_id): strongly connected components
    of the DIRECTED graph; scc_id is the lexicographically smallest
    member of each component (a node outside any cycle is its own
    component). Computed as mutual reachability over the transitive
    closure — built by ITERATIVE DOUBLING (reach ⋈ reach per round, so
    #rounds = ⌈log₂ diameter⌉, each round one join + dedup with a
    localCheckpoint to keep the plan flat).

    Charter: this closure is the bounded-VERIFY formulation (the same
    cap policy as engine/dataset.py's closure caps and the quadratic
    jaccard/containment verify paths) — pair-quadratic in the worst
    case, so past ``max_pairs`` the call AUTO-DISPATCHES to
    :func:`scc_fwbw`, the production forward-backward pivot algorithm
    that never materializes all-pairs reachability. Both produce the
    identical (node, scc_id) contract (equivalence is
    hypothesis-tested on random digraphs)."""
    edges = _clean_edges(edges).localCheckpoint(eager=True)
    reach = edges
    n_reach = reach.count()
    while True:
        grown = (
            reach.alias("a")
            .join(
                reach.alias("b"), F.col("a.dst") == F.col("b.src")
            )
            .select(F.col("a.src"), F.col("b.dst"))
            .unionByName(reach)
            .dropDuplicates(["src", "dst"])
            .localCheckpoint(eager=True)
        )
        n_grown = grown.count()
        if n_grown > max_pairs:
            return scc_fwbw(edges)
        if n_grown == n_reach:
            break
        reach, n_reach = grown, n_grown
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .dropDuplicates(["node"])
    )
    mutual = (
        reach.alias("f")
        .join(
            reach.alias("g"),
            (F.col("f.src") == F.col("g.dst"))
            & (F.col("f.dst") == F.col("g.src")),
        )
        .select(
            F.col("f.src").alias("node"),
            F.col("f.dst").alias("other"),
        )
        .groupBy("node")
        .agg(F.min("other").alias("min_other"))
    )
    return nodes.join(mutual, "node", "left").select(
        "node",
        F.least(
            F.col("node"), F.coalesce("min_other", F.col("node"))
        ).alias("scc_id"),
    )


def _tarjan_scc_driver(edge_list: list[tuple]) -> dict:
    """Iterative (explicit-stack) Tarjan over a driver-resident edge
    list: node → lexicographically-smallest member of its SCC. The
    endgame pass of :func:`scc_fwbw` — only ever called on an
    active subgraph at or under ``tarjan_cutoff`` edges, where every
    node appears as some edge endpoint (post-trim invariant)."""
    adj: dict = {}
    nodes = set()
    for a, b in edge_list:
        adj.setdefault(a, []).append(b)
        nodes.add(a)
        nodes.add(b)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp: dict = {}
    counter = [0]

    def _connect(root) -> None:
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            descend = False
            succs = adj.get(v, ())
            for i in range(pi, len(succs)):
                w = succs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    descend = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if descend:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                root_id = min(members)
                for m in members:
                    comp[m] = root_id
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])

    for n in nodes:
        if n not in index:
            _connect(n)
    return comp


def scc_fwbw(
    edges: DataFrame,
    max_levels: int = 256,
    max_rounds: int = 4096,
    tarjan_cutoff: int = 100_000,
    stats: dict | None = None,
) -> DataFrame:
    """Production strongly-connected components: multi-pivot
    forward-backward decomposition (Fleischer et al.'s FW-BW with
    min-label pivot selection — the "coloring" batch variant of
    Orzan / the Multistep method), identical (node, scc_id) contract
    to :func:`scc` with scc_id = lexicographically smallest member.

    Per level, over the ACTIVE subgraph:

    1. **Trim fixpoint** — nodes with in- or out-degree 0 within the
       active graph lie on no cycle: emitted as singleton SCCs and
       removed until none remain. This deletes entire DAG regions in
       diameter rounds (the web's IN/OUT tendrils), which is what
       keeps the level count small on real graphs.
    2. **Forward min-label propagation** — lab(v) = min node id that
       reaches v, by iterated ``lab(v) ← min(lab(v), min over
       in-edges lab(u))`` to fixpoint. Every label class is a pivot
       partition and its root r (lab(r) = r) is the pivot — ALL
       pivots proceed in the same batch; no driver-side recursion
       over sub-partitions.
    3. **Backward BFS from all roots at once**, restricted to
       same-label edges: the nodes of class r that reach r are
       exactly SCC(r) (r reaches them by construction of lab;
       label-respecting paths suffice because any vertex on a
       path m→r inside class r provably has label r). Emitted with
       scc_id = r — r is the class minimum, hence the SCC minimum,
       so the contract matches :func:`scc` exactly.
    4. Remove emitted nodes; the next level re-trims and re-labels
       the remainder (the FW/BW/REST recursion, batched).

    5. **Driver-Tarjan endgame** (the Multistep method's final step,
       Slota et al. 2014): once the active subgraph after trimming
       fits under ``tarjan_cutoff`` edges, it is collected and
       finished with one iterative Tarjan pass on the driver. This is
       what resolves SCC-condensation CHAINS (cyclic SCC → cyclic
       SCC → …), where min-label coloring inherently peels one
       condensation level per outer iteration: a chain-shaped
       remainder is tiny long before it is deep, so it finishes in
       one driver pass instead of one level per SCC. Pass
       ``tarjan_cutoff=0`` to pin the fully-distributed path (the
       equivalence tests do).

    Every distributed step is frontier-shaped (the
    shacl_path_kleene_dist loop shape: join + anti-join +
    localCheckpoint on strictly-shrinking frames); nothing is ever
    pair-quadratic. ``max_levels`` guards adversarial nestings —
    with the Tarjan endgame only a condensation chain that is BOTH
    deep (> max_levels SCC levels) AND wide (> tarjan_cutoff edges at
    every level) can exhaust it, and then it raises rather than
    silently truncating; ``max_rounds`` bounds each inner fixpoint
    the same way. ``stats``, if a dict is passed, is filled with
    level/round counters so tests can pin the good-case shape.

    Output schema (node, scc_id) is DERIVED from the input edge
    frame's src column, so non-string node ids keep their dtype
    through the union accumulator and the driver endgame."""
    edges0 = _clean_edges(edges).localCheckpoint(eager=True)
    spark = edges0.sparkSession
    empty = edges0.select(
        F.col("src").alias("node"), F.col("src").alias("scc_id")
    ).limit(0)
    if stats is None:
        stats = {}
    stats.update(
        levels=0, trim_rounds=0, label_rounds=0, backward_rounds=0,
        tarjan_fallback=False, tarjan_edges=0,
    )
    active_nodes = (
        edges0.select(F.col("src").alias("node"))
        .unionByName(edges0.select(F.col("dst").alias("node")))
        .dropDuplicates(["node"])
        .localCheckpoint(eager=True)
    )
    active_edges = edges0
    done: list[DataFrame] = [empty]

    def _bounded(it):
        for i in range(max_rounds):
            yield i
        raise ValueError(
            f"scc_fwbw {it} fixpoint exceeded max_rounds={max_rounds}"
        )

    for _level in range(max_levels):
        stats["levels"] = _level + 1
        # 1. trim fixpoint: in-degree or out-degree 0 ⇒ singleton SCC
        for _ in _bounded("trim"):
            stats["trim_rounds"] += 1
            srcs = active_edges.select(F.col("src").alias("node")).distinct()
            dsts = active_edges.select(F.col("dst").alias("node")).distinct()
            keep = (
                active_nodes.join(srcs, "node", "left_semi")
                .join(dsts, "node", "left_semi")
                .localCheckpoint(eager=True)
            )
            trimmed = active_nodes.join(keep, "node", "left_anti")
            if trimmed.isEmpty():
                break
            done.append(
                trimmed.select("node", F.col("node").alias("scc_id"))
                .localCheckpoint(eager=True)
            )
            active_nodes = keep
            active_edges = (
                active_edges.join(
                    keep.withColumnRenamed("node", "src"), "src", "left_semi"
                )
                .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
        if active_nodes.isEmpty():
            break
        # 5. driver-Tarjan endgame: after trimming, every active node
        # has in- AND out-degree ≥ 1, so the edge set covers the node
        # set; a small remainder finishes in one driver pass (this is
        # what keeps SCC-condensation chains from costing one level
        # per SCC — see docstring)
        # one bounded probe (at most tarjan_cutoff + 1 rows) both sizes
        # the remainder and, when it fits, is the edge list itself
        if tarjan_cutoff and len(
            probe := active_edges.limit(tarjan_cutoff + 1).collect()
        ) <= tarjan_cutoff:
            pair_list = [(r[0], r[1]) for r in probe]
            stats["tarjan_fallback"] = True
            stats["tarjan_edges"] = len(pair_list)
            comp = _tarjan_scc_driver(pair_list)
            done.append(
                spark.createDataFrame(list(comp.items()), empty.schema)
            )
            break
        # 2. forward min-label propagation to fixpoint
        lab = active_nodes.withColumn("lab", F.col("node")).localCheckpoint(
            eager=True
        )
        for _ in _bounded("label"):
            stats["label_rounds"] += 1
            prop = (
                active_edges
                .join(
                    lab.select(F.col("node").alias("src"),
                               F.col("lab").alias("_in")),
                    "src",
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("_in").alias("_min_in"))
            )
            new_lab = (
                lab.join(prop, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("lab"), F.coalesce("_min_in", F.col("lab"))
                    ).alias("lab"),
                )
                .localCheckpoint(eager=True)
            )
            changed = new_lab.join(
                lab, ["node", "lab"], "left_anti"
            )
            lab = new_lab
            if changed.isEmpty():
                break
        # 3. backward BFS from every root, within same-label edges
        elab = (
            active_edges
            .join(lab.select(F.col("node").alias("src"),
                             F.col("lab").alias("_ls")), "src")
            .join(lab.select(F.col("node").alias("dst"),
                             F.col("lab").alias("_ld")), "dst")
            .where(F.col("_ls") == F.col("_ld"))
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        rev = elab.select(F.col("dst").alias("node"),
                          F.col("src").alias("pred"))
        reached = (
            lab.where(F.col("lab") == F.col("node"))
            .select("node", F.col("lab").alias("scc_id"))
            .localCheckpoint(eager=True)
        )
        frontier = reached
        for _ in _bounded("backward"):
            stats["backward_rounds"] += 1
            step = (
                frontier.join(rev, "node")
                .select(F.col("pred").alias("node"), "scc_id")
                .dropDuplicates(["node"])
            )
            frontier = step.join(
                reached.select("node"), "node", "left_anti"
            ).localCheckpoint(eager=True)
            if frontier.isEmpty():
                break
            reached = reached.unionByName(frontier).localCheckpoint(
                eager=True
            )
        done.append(reached)
        # 4. remove the emitted SCCs and iterate on the remainder
        active_nodes = active_nodes.join(
            reached.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=True)
        if active_nodes.isEmpty():
            break
        active_edges = (
            active_edges.join(
                active_nodes.withColumnRenamed("node", "src"),
                "src", "left_semi",
            )
            .join(
                active_nodes.withColumnRenamed("node", "dst"),
                "dst", "left_semi",
            )
            .localCheckpoint(eager=True)
        )
    else:
        raise ValueError(f"scc_fwbw did not converge in {max_levels} levels")
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out


def degrees(edges: DataFrame) -> DataFrame:
    """edges(src, dst) → (node, out_degree, in_degree) over the
    deduplicated edge set; nodes appearing only on one side report 0
    on the other. One scan feeds both sides of a full-outer merge on
    pre-aggregated (node-cardinality) frames — no node×edge join."""
    edges = _clean_edges(edges)
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def _canon_undirected(edges: DataFrame) -> DataFrame:
    """Canonical undirected simple-graph edges: (a, b) with a < b
    after least/greatest normalization, self-loops and null endpoints
    dropped, deduped — then MATERIALIZED (localCheckpoint), because
    every consumer joins this frame against itself two or three times
    and would otherwise replay the (possibly expensive) upstream per
    branch (the shacl_equals reuse device)."""
    return (
        edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _sym_adj(edges: DataFrame) -> DataFrame:
    """Symmetric adjacency (node, nbr) of the undirected simple graph —
    every canonical edge in both directions, checkpointed once so the
    iterative consumers join the materialization every round."""
    e = _canon_undirected(edges)
    return (
        e.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(
            e.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .localCheckpoint(eager=True)
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph of
    `edges(src, dst)` — (node, n_triangles) for every node in ≥ 1
    triangle. On a near-duplicate pair graph this is the template-
    family signal: clique-like neighborhoods (high triangle count)
    mark boilerplate clusters that connected components alone can't
    separate from chains.

    Plan: canonical low→high orientation (a < b after least/greatest
    normalization + distinct), then the standard two-join closure —
    wedges (a<b<c) from e ⋈ e on the middle node, closed by a third
    join back to e on (a, c). Each triangle is produced exactly once.
    All joins are equi-joins on edge keys (shuffle or broadcast by
    AQE); wedge work is Σ deg², the textbook bound — at real scale
    the orientation can be switched to (degree, id) ordering for
    O(m^1.5) without changing this topology. No driver-side state."""
    e = _canon_undirected(edges)
    wedges = e.join(
        e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
    )
    tri = wedges.join(
        e.select("a", F.col("b").alias("c")), ["a", "c"]
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def k_core(edges: DataFrame, k: int = 3, rounds: int = 6) -> DataFrame:
    """Bounded synchronous k-core peeling: `rounds` rounds of
    [degree → drop nodes with degree < k → restrict edges], then the
    final (node, degree) table. Equals the true k-core wherever the
    peel converges within `rounds`; the bounded-round contract (same
    as kmeans iters / the fixed-point PageRank) is what makes an
    unrolled-CTE DuckDB oracle possible — every round is exact
    integer arithmetic.

    Plan: degrees come from one explode + map-side-combined count per
    round; the restriction is two semi-joins of the edge set against
    the (node-cardinality, strictly shrinking) keep set, which AQE
    broadcasts once it fits. Each round's edge set is checkpointed —
    bounded lineage, and the next round reads the materialization,
    not the replay."""
    e = _canon_undirected(edges)

    def degs(ed):
        return (
            ed.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    for _ in range(rounds):
        keep = degs(e).where(F.col("degree") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return degs(e)


def k_truss(edges: DataFrame, k: int = 4, rounds: int = 3) -> DataFrame:
    """Bounded k-truss peeling: `rounds` rounds of [per-edge triangle
    support → drop edges with support < k−2], returning the surviving
    edges with their LAST-round support — (a, b, support). The truss
    is the edge-analogue of the k-core (Cohen 2008): every surviving
    edge sits in ≥ k−2 triangles among surviving edges, which
    extracts cohesive template families strictly denser than the
    k-core keeps (a core-surviving chain node dies here because its
    edges close no triangles). Equals the true k-truss wherever the
    peel converges within `rounds` — the same bounded-round contract
    as k_core / label_propagation that makes an unrolled-CTE oracle
    possible; every round is exact integer arithmetic.

    Plan: each round is one triangle enumeration (the canonical
    a<b<c two-join closure, Σdeg² wedge work on the SHRINKING edge
    set — round 1 dominates) + an explode of the 3 edges per
    triangle + one map-side-combined count; the support filter is an
    inner join back to the edge set on the edge key. Edge set is
    checkpointed per round — bounded lineage."""
    if k < 3:
        # the 2-truss is the whole graph; this peel would wrongly drop
        # triangle-less edges, so refuse instead of answering wrong
        raise ValueError("k_truss requires k >= 3")
    e = _canon_undirected(edges)
    for _ in range(rounds):
        wedges = e.select("a", "b").join(
            e.select(F.col("a").alias("b"), F.col("b").alias("c")),
            "b")
        tri = wedges.join(
            e.select("a", F.col("b").alias("c")), ["a", "c"])
        sup = (
            tri.select(F.explode(F.array(
                F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                F.struct(F.col("b").alias("x"), F.col("c").alias("y")),
                F.struct(F.col("a").alias("x"), F.col("c").alias("y")),
            )).alias("ed"))
            .select("ed.x", "ed.y")
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= k - 2)
        )
        e = (
            e.select("a", "b")
            .join(sup.withColumnRenamed("x", "a")
                  .withColumnRenamed("y", "b"), ["a", "b"])
            .localCheckpoint(eager=True)
        )
    return e.select("a", "b", "support")


def common_neighbors(
    edges: DataFrame, min_common: int = 2, top_k: int | None = None
) -> DataFrame:
    """Link-prediction candidate pairs by shared neighborhood:
    (u, v, n_common, deg_u, deg_v) for every unordered node pair with
    ≥ `min_common` common neighbors in the undirected simple graph —
    u and v need NOT be adjacent (that's the point: high neighbor
    overlap without an edge predicts a missing link / a same-entity
    pair the direct-similarity pass missed). All-integer output, so
    neighbor-Jaccard n_common/(deg_u+deg_v-n_common) thresholds apply
    downstream in exact cross-multiplied form.

    Plan: symmetric adjacency (edge list both ways), wedge join on the
    shared neighbor, groupBy the (u,v) pair — Σdeg² wedge work, the
    same bound as triangles; degree frames are node-cardinality joins
    AQE broadcasts. min_common prunes the quadratic tail of weak
    pairs at the aggregate, before the degree joins. top_k (if set)
    keeps each u's strongest `top_k` candidates — the shortlist
    semantics real candidate generation wants, and it bounds the
    output at nodes × k instead of the clique-quadratic pair count
    (deterministic order: n_common DESC, v ASC)."""
    e = _canon_undirected(edges)
    adj = e.select(F.col("a").alias("node"), F.col("b").alias("nb")) \
        .unionByName(
            e.select(F.col("b").alias("node"), F.col("a").alias("nb")))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    pairs = (
        adj.select(F.col("node").alias("u"), "nb")
        .join(adj.select(F.col("node").alias("v"), "nb"), "nb")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    if top_k is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("u").orderBy(
            F.desc("n_common"), F.asc("v")
        )
        pairs = (
            pairs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= top_k)
            .drop("_rn")
        )
    return (
        pairs.join(deg.select(F.col("node").alias("u"),
                              F.col("deg").alias("deg_u")), "u")
        .join(deg.select(F.col("node").alias("v"),
                         F.col("deg").alias("deg_v")), "v")
        .select("u", "v", "n_common", "deg_u", "deg_v")
    )


def resource_allocation(
    edges: DataFrame, min_common: int = 2, top_k: int | None = None,
    scale: int = 10**12,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009 —
    the 1/deg(z) sibling of Adamic-Adar's 1/log deg(z)): for every
    unordered non-trivial node pair (u, v), ra_num =
    Σ_{z ∈ CN(u,v)} scale DIV deg(z) — each common neighbor
    contributes inversely to its degree, so a shared hub says far
    less than a shared leaf. INTEGER-EXACT: per-neighbor shares are
    BIGINT floor division (`DIV`), so the pair score is a sum of
    integers and bit-identical on any engine / partitioning — the
    same fixed-point device as pagerank. (Adamic-Adar proper needs
    ln(deg), a float whose last-ulp varies by libm; RA is the member
    of the family with an exact form, which is why it is the one
    implemented.)

    Returns (u, v, n_common, ra_num). Plan: same Σdeg² wedge join as
    common_neighbors, but the degree frame joins the ADJACENCY on the
    shared-neighbor column before the wedge (node-cardinality
    broadcast), so the pair aggregate sums shares map-side;
    min_common prunes weak pairs at the aggregate and top_k bounds
    output at nodes × k (deterministic order: ra_num DESC, v ASC)."""
    e = _canon_undirected(edges)
    adj = e.select(F.col("a").alias("node"), F.col("b").alias("nb")) \
        .unionByName(
            e.select(F.col("b").alias("node"), F.col("a").alias("nb")))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("_degz"))
    adjd = (
        adj.join(deg.select(F.col("node").alias("nb"), "_degz"), "nb")
        .withColumn("_share",
                    F.expr(f"CAST({scale} AS BIGINT) div _degz"))
    )
    pairs = (
        adjd.select(F.col("node").alias("u"), "nb", "_share")
        .join(adjd.select(F.col("node").alias("v"), "nb"), "nb")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("_share").alias("ra_num"),
        )
        .where(F.col("n_common") >= min_common)
    )
    if top_k is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("u").orderBy(F.desc("ra_num"), F.asc("v"))
        pairs = (
            pairs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= top_k)
            .drop("_rn")
        )
    return pairs.select("u", "v", "n_common", "ra_num")


def bipartite_project(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 2,
    max_group: int | None = None,
) -> DataFrame:
    """Project a bipartite (group, item) relation onto item-item
    co-occurrence edges: (item_a, item_b, support) with item_a <
    item_b and support = number of distinct groups containing both —
    market-basket co-purchase graphs, author-collaboration graphs,
    doc-term co-mention graphs all come from this one construction.

    Plan: dedup (group, item), self-join WITHIN group (the quadratic
    term is per-group — bounded groups ⇒ bounded work), count pairs.
    `max_group` is the stop-group guard (same role as LSH's
    stop-bucket removal): a group with g items emits g·(g−1)/2 pairs,
    so one million-item group would dominate the job; dropping
    super-groups bounds the pair stream and is stated, not silent —
    the dropped groups are exactly the non-informative ones (a basket
    containing everything co-occurs with everything)."""
    g = (
        df.select(F.col(group_col).alias("_g"),
                  F.col(item_col).alias("_i"))
        .where(F.col("_g").isNotNull() & F.col("_i").isNotNull())
        .distinct()
    )
    if max_group is not None:
        sizes = g.groupBy("_g").agg(F.count(F.lit(1)).alias("_sz"))
        g = g.join(
            sizes.where(F.col("_sz") <= max_group).select("_g"),
            "_g", "left_semi",
        )
    pairs = (
        g.select("_g", F.col("_i").alias("item_a"))
        .join(g.select("_g", F.col("_i").alias("item_b")), "_g")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    return pairs


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Bounded synchronous label propagation communities over the
    undirected simple graph: every node starts labeled with itself;
    each round it adopts its neighbors' most frequent label, ties
    broken by the smallest label. Returns (node, community) after
    `rounds` rounds. Unlike connected components (pipeline/cc.py,
    min-label fixpoint) this splits a weakly-bridged component into
    dense communities — the template-family splitter for near-dup
    clusters that CC over-merges through one chance link.

    Synchronous + deterministic tie-break means the result is a pure
    function of the edge set (no vertex-order dependence, unlike the
    classic async variant), which is what makes an unrolled-CTE
    DuckDB oracle and a cross-engine hash compare possible; the
    bounded-round contract is the same as k_core / kmeans /
    fixed-point pagerank above.

    Plan per round: adjacency join against the (node, label) frame
    (node-cardinality), partial-agg count per (node, neighbor-label),
    one row_number window to pick the mode — two shuffles of
    node-scale data per round; the symmetric adjacency is built once
    and checkpointed, never re-derived. Labels frame is checkpointed
    per round (bounded lineage, no recursive plans)."""
    adj = _sym_adj(edges)
    labels = adj.select("node").distinct().withColumn(
        "community", F.col("node")
    ).localCheckpoint(eager=True)
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy(
        F.desc("cnt"), F.asc("community")
    )
    for _ in range(rounds):
        labels = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "community"),
                "nbr",
            )
            .groupBy("node", "community")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "community")
            .localCheckpoint(eager=True)
        )
    return labels


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Multi-source BFS hop distances over the undirected simple
    graph: (node, dist) for every node within `max_hops` hops of any
    seed, dist = hops to the NEAREST seed (seeds themselves are 0).
    The closure operator (engine/paths.py Kleene) answers *whether* a
    node is reachable; this answers *how far* — propagation depth
    from labeled exemplars, contamination radius, crawl frontier
    scheduling.

    Plan: classic frontier expansion — each round joins only the
    LAST round's frontier (not the whole visited set) against the
    checkpointed symmetric adjacency, anti-joins the visited set to
    keep first-discovery distances, checkpoints the (strictly
    shrinking) frontier. Work per round is O(edges touching the
    frontier); the visited set is node-cardinality. Equivalent to
    `max_hops` rounds of min-relaxation (the oracle's formulation)
    because BFS discovers every node at its minimal hop count."""
    return _frontier_bfs(edges, seeds, max_hops, ("node",))


def _frontier_bfs(
    edges: DataFrame, seeds: DataFrame, max_hops: int, keys: tuple
) -> DataFrame:
    """The frontier-expansion loop behind bfs_distances (keys
    ``("node",)``) and landmark_distances (keys ``("seed", "node")``):
    visited(*keys, dist) starts as each non-null seed at dist 0; each
    round joins only the last frontier against the checkpointed
    symmetric adjacency, anti-joins the visited set on every key column
    and checkpoints. Stops at ``max_hops`` or when the frontier empties
    — the horizon is the contract, so reaching it is not an error."""
    adj = _sym_adj(edges)
    visited = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .select(*[F.col("node").alias(k) for k in keys],
                F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        frontier = (
            frontier.select(*keys)
            .join(adj, "node")
            .select(*keys[:-1], F.col("nbr").alias("node"))
            .distinct()
            .join(visited.select(*keys), list(keys), "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
        visited = visited.unionByName(frontier).localCheckpoint(
            eager=True
        )
    return visited


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a community partition, INTEGER-EXACT:
    per community c emit (community, n_nodes, e_in, deg_sum, q_num)
    where q_num = 4·m·e_in − deg_sum², so the partition's modularity
    is Q = Σ_c q_num / (4m²) — every emitted column is BIGINT (the
    single float division is left to the consumer), the same
    common-denominator device as the fixed-point PageRank. The
    quality gate for label_propagation's output: compare partitions
    by Σ q_num without ever ranking floats.

    Plan: e_in is two node-cardinality joins of the canonical edge
    set against the label frame (AQE broadcasts the labels when they
    fit); deg_sum/n_nodes is one groupBy over labels ⋈ degrees. m is
    one scalar count — a bounded driver round-trip like the closure
    caps."""
    e = _canon_undirected(edges)
    m = e.count()
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    lab = labels.select(
        F.col(labels.columns[0]).alias("node"),
        F.col(labels.columns[1]).alias("community"),
    )
    ein = (
        e.join(lab.select(F.col("node").alias("a"),
                          F.col("community").alias("_ca")), "a")
        .join(lab.select(F.col("node").alias("b"),
                         F.col("community").alias("_cb")), "b")
        .where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    dsum = (
        lab.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("deg").alias("deg_sum"),
        )
    )
    return (
        dsum.join(ein, "community", "left")
        .select(
            "community", "n_nodes",
            F.coalesce("e_in", F.lit(0)).alias("e_in"),
            "deg_sum",
            (F.lit(4 * m) * F.coalesce("e_in", F.lit(0))
             - F.col("deg_sum") * F.col("deg_sum")).alias("q_num"),
        )
    )


def assortativity_terms(edges: DataFrame) -> DataFrame:
    """One row of exact-integer Pearson components for DIRECTED
    out-in degree assortativity (Newman 2002; the out-in variant):
    per edge u→v, x = outdeg(u), y = indeg(v);

        r = (m·Σxy − Σx·Σy) / √((m·Σx² − (Σx)²) · (m·Σy² − (Σy)²))

    emitted as (m, num, den_x, den_y) with num = m·Σxy − Σx·Σy,
    den_x = m·Σx² − (Σx)², den_y = m·Σy² − (Σy)² — the square root
    belongs to the consumer, so no float ever crosses the engine
    boundary (the rank_rrf/modularity device). Plan: degrees are two
    node-sized aggregates joined back onto the edge list (AQE
    broadcasts them against a big edge side), then ONE global
    single-row aggregate — partial-aggregated map-side, constant
    output."""
    edges = _clean_edges(edges)
    outd = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("x")
    )
    ind = edges.groupBy("dst").agg(
        F.count(F.lit(1)).alias("y")
    )
    xy = edges.join(outd, "src").join(ind, "dst")
    agg = xy.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    return agg.select(
        F.col("m").cast("bigint").alias("m"),
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint").alias("num"),
        (F.col("m") * F.col("sx2") - F.col("sx") * F.col("sx"))
        .cast("bigint").alias("den_x"),
        (F.col("m") * F.col("sy2") - F.col("sy") * F.col("sy"))
        .cast("bigint").alias("den_y"),
    )


def closeness_terms(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Horizon-bounded closeness centrality TERMS for a seed set:
    (seed, n_reached, dist_sum) over the undirected simple graph,
    where n_reached counts nodes within max_hops of the seed
    (seed excluded) and dist_sum is the integer sum of their hop
    distances — closeness itself is the consumer's trivial
    n_reached/dist_sum (or harmonic variants), kept as exact integer
    terms so two engines hash identically (the fixed-point PageRank
    policy).

    Plan: one groupBy over the landmark_distances frame (the shared
    frontier-BFS loop keyed on (seed, node)). Work per round is
    O(frontier ⋈ edges); exact all-sources closeness is quadratic by
    nature, so the seed set IS the cap (sampled-pivot closeness —
    Eppstein-Wang — is the stated estimator at corpus scale, same
    machinery over O(log n / ε²) sampled seeds)."""
    return (
        landmark_distances(edges, seeds, max_hops)
        .where(F.col("dist") > 0)
        .groupBy("seed")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("dist").cast("long").alias("dist_sum"),
        )
    )


def deterministic_walks(
    edges: DataFrame, seeds: DataFrame, walk_len: int = 3
) -> DataFrame:
    """DeepWalk-style random-walk corpus generation, DERANDOMIZED: at
    step t the walker at node u moves to argmin over neighbors v of
    md5(u|t|v) — a hash-seeded pseudo-uniform choice (the md5-uniform
    device of ops/sample) that any engine recomputes identically, so
    walks are rerun-, partitioning- and engine-stable. Output: one
    (seed, step, node) row per visited position, step 0 = the seed;
    a walk ending on a node with no neighbors stops early.

    Plan: walk_len rounds of frontier ⋈ adjacency with a row_number
    argmin per walk — each round shuffles only the LIVE walk set
    (seed-cardinality), the adjacency is checkpointed once; at corpus
    scale walks batch thousands of seeds per round rather than
    looping per seed, which is the whole point of expressing the walk
    relationally. Tie-break on (hash, neighbor) so an md5 collision
    cannot make the argmin ambiguous."""
    from pyspark.sql import Window

    adj = _sym_adj(edges)
    cur = (
        seeds.select(F.col(seeds.columns[0]).alias("seed"))
        .where(F.col("seed").isNotNull())
        .distinct()
        .select("seed", F.col("seed").alias("node"),
                F.lit(0).alias("step"))
        .localCheckpoint(eager=True)
    )
    out = cur
    w = Window.partitionBy("seed").orderBy("_h", "nbr")
    for step in range(1, walk_len + 1):
        cand = (
            cur.join(adj, "node")
            .withColumn(
                "_h",
                F.md5(F.concat_ws(
                    "|", F.col("node").cast("string"),
                    F.lit(step).cast("string"),
                    F.col("nbr").cast("string"))),
            )
        )
        cur = (
            cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("seed", F.col("nbr").alias("node"),
                    F.lit(step).alias("step"))
            .localCheckpoint(eager=True)
        )
        if cur.isEmpty():
            break
        out = out.unionByName(cur)
    return out.select("seed", "step", "node")


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node LOCAL clustering coefficient over the undirected
    simple graph of `edges(src, dst)`, kept as the exact integer
    rational (n_triangles, n_wedges = deg·(deg−1)/2) — cc =
    n_triangles / n_wedges, never computed as a float here (the
    no-float-ever-hashed policy; deg·(deg−1) is always even, so the
    integer division is exact). On a near-duplicate pair graph this
    separates clique-like template families (cc → 1) from chain/star
    accretion (cc → 0) node by node — the refinement of the
    graph-level triangle count.

    Plan: undirected degree is one explode + map-side-combined count;
    triangles reuse the oriented two-join closure (Σ deg² wedge work,
    see triangles()); the two node-cardinality aggregates meet in a
    single LEFT join (triangle-free nodes report 0). The canonical
    edge frame is checkpointed once and shared by both branches."""
    e = _canon_undirected(edges)
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    wedges = e.join(
        e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
    )
    tri = (
        wedges.join(e.select("a", F.col("b").alias("c")), ["a", "c"])
        .select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint")
            .alias("n_triangles"),
            F.expr("(degree * (degree - 1)) div 2").cast("bigint")
            .alias("n_wedges"),
        )
    )


def markov_stationary(
    trans: DataFrame,
    iterations: int = 4,
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """trans(src, dst, n) → (state string, mass_scaled bigint): the
    empirical first-order Markov chain's mass vector after
    ``iterations`` synchronous power-iteration steps, in the same
    fixed-point-integer regime as :func:`pagerank` (reference's
    ranking consumers: next-event prediction priors, crawl frontier
    ordering by expected visit mass).

    mass⁰(s) = scale DIV |states|;
    massᵏ⁺¹(t) = Σ_{s→t} (massᵏ(s) · n_st) DIV rowtot(s).

    Deliberate, deterministic semantics (the pagerank charter):
    absorbing states (no outgoing transitions) leak their mass out of
    the system per step rather than holding it — the vector is a
    RANKING signal, not a probability that must sum to 1; floor
    division truncates ≤ rowtot-1 units per source per step. Null or
    non-positive counts are dropped. Every step is BIGINT, so the
    unrolled SQL oracle is bit-identical. mass·n stays < 2⁶³ for
    n < 9·10⁶ at the default scale (transition counts, not raw rows).

    Scale design: the :func:`_power_iteration` loop pagerank runs,
    with every state a seed, d = 100 and so no teleport term
    ((100·x) DIV 100 = x exactly) — the transition list is the big
    side (URL-level or state-level chains can be web-sized).
    """
    trans = (
        trans.select("src", "dst", F.col("n").cast("bigint").alias("n"))
        .where(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
            & (F.col("n") > 0)
        )
        .groupBy("src", "dst")
        .agg(F.sum("n").alias("n"))
    )
    return _power_iteration(trans, None, iterations, 100, scale).select(
        F.col("node").alias("state"), F.col("rank_scaled").alias("mass_scaled")
    )


def square_pairs(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """4-cycle (square) census over the UNDIRECTED simple graph of
    ``edges(src, dst)``: for every unordered node pair (u, w) with
    c = |N(u) ∩ N(w)| ≥ ``min_common``, emit
    (u, w, n_common, c4_pairs = C(c, 2)) — the number of 4-cycles in
    which (u, w) is a DIAGONAL. Squares are the next motif after
    triangles: on a near-dup pair graph they mark bipartite-template
    structure (two page families cross-linked) that triangle counts
    miss entirely. Total distinct 4-cycles = Σ c4_pairs / 2 (every
    cycle u–x–w–y has exactly two diagonals, {u,w} and {x,y}).

    Same wedge-join shape as :func:`triangles`: one self-join of the
    canonical adjacency on the shared endpoint, then a pair aggregate
    — work is Σ_x C(deg(x), 2) wedges, so at corpus scale the input
    should be a degree-bounded candidate graph (LSH/simhash pair set),
    exactly like the triangle and common-neighbor consumers. Exact
    integers throughout.
    """
    if min_common < 2:
        raise ValueError("min_common < 2 never completes a 4-cycle")
    e = _canon_undirected(edges)
    adj = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    wedges = (
        adj.select(F.col("a").alias("x"), F.col("b").alias("u"))
        .join(adj.select(F.col("a").alias("x"), F.col("b").alias("w")), "x")
        .where(F.col("u") < F.col("w"))
    )
    return (
        wedges.groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
        .select(
            "u", "w",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.expr("(n_common * (n_common - 1)) div 2").cast("bigint")
            .alias("c4_pairs"),
        )
    )


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance terms over the undirected simple
    graph: (community, n_nodes, volume, cut, denom) where volume is
    the community's degree sum, cut the number of boundary edges
    (exactly one endpoint inside), and denom = min(volume, 2m−volume)
    — conductance φ = cut / denom is the standard community-quality
    score (lower = better separated); the INTEGER term pair is
    returned instead of the ratio so the cross-engine compare is
    hash-exact (the graph_modularity charter — same inputs, different
    quality functional: modularity rewards internal density vs the
    null model, conductance penalizes boundary mass directly, and a
    chance-bridged CC merge scores badly on conductance while LPA
    splits score well).

    labels(node, community): edges with an unlabeled endpoint are
    dropped, and volume/cut/2m all describe that restricted graph
    (audit label coverage first if that matters).
    Plan shape: degree aggregate + one labels join per endpoint of the
    canonical edge list — two node-cardinality shuffles and the
    edge-labels joins; no quadratic term.
    """
    e = _canon_undirected(edges)
    lab = labels.select("node", "community").dropDuplicates(["node"])
    sided = (
        e.join(lab.select(F.col("node").alias("a"),
                          F.col("community").alias("ca")), "a")
        .join(lab.select(F.col("node").alias("b"),
                         F.col("community").alias("cb")), "b")
        .localCheckpoint(eager=True)
    )
    # degrees/volumes over the RESTRICTED (both-endpoints-labeled)
    # graph, so volume, cut, and 2m describe the same edge set
    deg = (
        sided.select(F.col("a").alias("node"),
                     F.col("ca").alias("community"))
        .unionByName(sided.select(F.col("b").alias("node"),
                                  F.col("cb").alias("community")))
        .groupBy("node", "community")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    vol = (
        deg.groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("volume"),
        )
    )
    cut = (
        sided.where(F.col("ca") != F.col("cb"))
        .select(F.explode(F.array("ca", "cb")).alias("community"))
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    m2 = sided.count() * 2  # labeled-edge volume total (2m)
    return (
        vol.join(cut, "community", "left")
        .select(
            "community", "n_nodes", "volume",
            F.coalesce("cut", F.lit(0)).cast("bigint").alias("cut"),
            F.least(F.col("volume"), F.lit(m2) - F.col("volume"))
            .cast("bigint").alias("denom"),
        )
    )


def bowtie(edges: DataFrame, max_rounds: int = 16) -> DataFrame:
    """Broder bow-tie decomposition of a directed graph (the classic
    web-graph macro-structure): (node, cls) with cls ∈ CORE (the
    largest SCC; ties to the lexicographically smallest scc_id), IN
    (reaches the core, not in it), OUT (reachable from the core, not
    in it), OTHER (tendrils, tubes, disconnected — the coarse 4-way
    cut; splitting OTHER further needs reachability from IN/OUT,
    which the consumer can run with the same frontier machinery).

    Built from :func:`scc` (closure verifier below the pair cap,
    auto-dispatching to :func:`scc_fwbw` above it) plus two
    frontier-BFS reachability passes from the core, one on each edge
    direction — the shacl_path_kleene_dist loop shape: per round one
    join + anti-join dedup + localCheckpoint, terminating when the
    frontier empties (``max_rounds`` is the runaway guard, raising
    rather than silently truncating)."""
    edges = _clean_edges(edges).localCheckpoint(eager=True)
    comp = scc(edges).localCheckpoint(eager=True)
    core_row = (
        comp.groupBy("scc_id").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("scc_id"))
        .limit(1)
        .collect()
    )
    if not core_row:
        return comp.sparkSession.createDataFrame(
            [], "node string, cls string"
        )
    core_id = core_row[0]["scc_id"]
    core = comp.where(F.col("scc_id") == core_id).select("node") \
        .localCheckpoint(eager=True)

    def reach_from(seed, ed):
        reached = seed
        frontier = seed
        for _ in range(max_rounds):
            step = (
                ed.join(frontier.withColumnRenamed("node", "src"),
                        "src")
                .select(F.col("dst").alias("node"))
                .dropDuplicates(["node"])
            )
            frontier = step.join(reached, "node", "left_anti") \
                .localCheckpoint(eager=True)
            if frontier.isEmpty():
                return reached
            reached = reached.unionByName(frontier) \
                .dropDuplicates(["node"]).localCheckpoint(eager=True)
        raise ValueError(
            f"reachability did not converge in {max_rounds} rounds"
        )

    fwd = reach_from(core, edges)
    bwd = reach_from(
        core, edges.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"))
    )
    return (
        comp.join(fwd.withColumn("_f", F.lit(1)), "node", "left")
        .join(bwd.withColumn("_b", F.lit(1)), "node", "left")
        .select(
            "node",
            F.when(F.col("scc_id") == core_id, F.lit("CORE"))
            .when(F.col("_b").isNotNull(), F.lit("IN"))
            .when(F.col("_f").isNotNull(), F.lit("OUT"))
            .otherwise(F.lit("OTHER")).alias("cls"),
        )
    )


def landmark_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Per-landmark BFS distances over the undirected simple graph:
    (seed, node, dist) for every node within ``max_hops`` of each seed
    — bfs_distances with the SOURCE IDENTITY carried through, the
    landmark-embedding primitive (distance-oracle features, diameter/
    eccentricity estimation à la ANF, crawl-frontier attribution to
    specific entry points).

    Plan: the bfs_distances frontier loop keyed by (seed, node) — one
    shared adjacency checkpoint; each round joins only the last
    frontier against it and anti-joins the visited set on BOTH key
    columns. Cost is the bfs cost × the (small, explicit) landmark
    count; landmarks fan out in the same jobs, not sequentially per
    seed."""
    return _frontier_bfs(edges, seeds, max_hops, ("seed", "node"))


def eccentricity_profile(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Per-landmark eccentricity within the ``max_hops`` horizon:
    (seed, n_reached, ecc) with ecc = max BFS distance the landmark
    reaches — max over landmarks lower-bounds the graph diameter,
    min lower-bounds the radius (the classical landmark sampling
    bounds; exact on any component the horizon covers). One groupBy
    over the landmark_distances frame."""
    return (
        landmark_distances(edges, seeds, max_hops)
        .groupBy("seed")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.max("dist").cast("bigint").alias("ecc"),
        )
    )


def path_type_features(triples: DataFrame) -> DataFrame:
    """PRA-style length-2 path-type features over a (s, p, o) triple
    frame: for every ordered predicate pair (p1, p2) and entity pair
    (s, o) connected by s ─p1→ m ─p2→ o, emit (s, path, o, n_paths)
    with path = 'p1/p2' — the relation-path feature matrix of the
    Path Ranking Algorithm (Lao & Cohen 2010), the classic KB-
    completion / link-prediction featurization over an emitted KG.

    Plan: one self-join of the (deduplicated) triple set on o = s —
    shuffle-partitioned on the join key, predicate carried through —
    then a groupBy on (s, path, o). Self-loops (m = s or o = s) are
    legitimate paths and kept; at corpus scale the join key m is the
    canonical entity id whose skew the linker already salted."""
    t = triples.select("s", "p", "o").dropDuplicates(["s", "p", "o"])
    left = t.select(F.col("s"), F.col("p").alias("p1"),
                    F.col("o").alias("m"))
    right = t.select(F.col("s").alias("m"), F.col("p").alias("p2"),
                     F.col("o"))
    out = (
        left.join(right, "m")
        .groupBy(
            "s",
            F.concat(F.col("p1"), F.lit("/"), F.col("p2")).alias("path"),
            "o",
        )
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    return out


def harmonic_centrality(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Per-landmark harmonic centrality within the ``max_hops``
    horizon: (seed, n_reached, harm_scaled, scale) with harm_scaled =
    Σ_{d(seed,v) ≥ 1} scale DIV d — scale = lcm(1..max_hops), so every
    reciprocal distance is an EXACT integer (the mrr_at_k device) and
    the engine-order of the sum cannot matter. Harmonic centrality is
    the standard sampled-landmark centrality at web scale (HyperBall's
    exact twin at bounded radius); unlike closeness it handles
    disconnected graphs gracefully (unreached nodes contribute 0).
    One groupBy over the landmark_distances frame."""
    import math

    scale = math.lcm(*range(1, max_hops + 1))
    ld = landmark_distances(edges, seeds, max_hops)
    return ld.groupBy("seed").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum(
            F.when(F.col("dist") > 0, F.expr(f"{scale} DIV dist"))
            .otherwise(F.lit(0))
        ).cast("bigint").alias("harm_scaled"),
        F.lit(scale).cast("bigint").alias("scale"),
    )


def boruvka_mst(edges: DataFrame, max_rounds: int = 12) -> DataFrame:
    """Minimum spanning forest via Borůvka rounds — THE MST algorithm
    for bulk-parallel engines (Kruskal/Prim are inherently
    sequential; Borůvka at least halves the component count per
    round, so ≤ ⌈log₂ n⌉ rounds of pure DataFrame algebra).
    Single-linkage clustering over a similarity graph IS this
    operator's output.

    edges(src, dst, w bigint) undirected; parallel edges collapse to
    their min weight and ties are broken by the total order (w, a, b)
    over canonical a < b endpoints, which makes the chosen forest
    UNIQUE and engine-deterministic even with duplicate weights (the
    classic lexicographic perturbation). Returns the forest edges
    (a, b, w).

    Per round: rewrite endpoints to current component labels (one
    narrow join per side against the node→component frame), drop
    intra-component edges, pick each component's minimum outgoing
    (w, a, b) via one struct-min aggregate (map-side combinable),
    union the picks into the forest, and contract via the quotient
    closure — connected_components over the picked edges' COMPONENT
    endpoints, a component-count-sized input, never the full edge
    list. Every label/edge frame is checkpointed per round (the
    iterative-fixpoint lineage policy shared with pagerank/cc)."""
    from ..pipeline.cc import connected_components

    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("w").cast("bigint").alias("w"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull()
               & (F.col("a") != F.col("b")))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .dropDuplicates(["node"])
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    forest = None
    for _ in range(max_rounds):
        la = labels.select(F.col("node").alias("a"),
                           F.col("component").alias("ca"))
        lb = labels.select(F.col("node").alias("b"),
                           F.col("component").alias("cb"))
        cross = (
            e.join(la, "a").join(lb, "b")
            .where(F.col("ca") != F.col("cb"))
            .localCheckpoint(eager=True)
        )
        if cross.isEmpty():
            break
        pick = F.struct("w", "a", "b", "ca", "cb")
        picked = (
            cross.select(F.col("ca").alias("comp"), pick.alias("e"))
            .unionByName(
                cross.select(F.col("cb").alias("comp"), pick.alias("e")))
            .groupBy("comp")
            .agg(F.min("e").alias("e"))
            .select("e.a", "e.b", "e.w", "e.ca", "e.cb")
            .dropDuplicates(["a", "b"])
            .localCheckpoint(eager=True)
        )
        sel = picked.select("a", "b", "w")
        forest = sel if forest is None else (
            forest.unionByName(sel).dropDuplicates(["a", "b"])
        )
        merge = connected_components(
            picked.select(F.col("ca").alias("src"),
                          F.col("cb").alias("dst"))
        ).select(F.col("node").alias("component"),
                 F.col("component").alias("_newc"))
        labels = (
            labels.join(merge, "component", "left")
            .select("node",
                    F.coalesce("_newc", "component").alias("component"))
            .localCheckpoint(eager=True)
        )
    if forest is None:
        schema_a = dict(e.dtypes)["a"]
        return e.sparkSession.createDataFrame(
            [], f"a {schema_a}, b {schema_a}, w bigint")
    return forest


def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity: one row (n_edges, n_reciprocated,
    n_nodes) over the deduplicated directed edge set (self-loops
    dropped) — n_reciprocated counts edges whose reverse also exists.
    The classic web/social-graph shape statistic (link exchanges and
    mutual-citation rings reciprocate; organic hyperlinks mostly do
    not — a high-reciprocity host neighborhood is a spam signal that
    feeds the same triage as kg_host_pagerank). r = n_reciprocated /
    n_edges is the consumer's division.

    Plan: one self-join of the edge set against its own swap on the
    full (src, dst) key — co-partitioned equi-join, no cartesian —
    plus one aggregate."""
    e = _clean_edges(edges).where(F.col("src") != F.col("dst"))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                   F.lit(1).alias("_has_rev"))
    marked = e.join(rev, ["src", "dst"], "left")
    nodes = (
        e.select(F.col("src").alias("n"))
        .unionByName(e.select(F.col("dst").alias("n")))
        .dropDuplicates(["n"])
    )
    agg = marked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(F.when(F.col("_has_rev").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_reciprocated"),
    )
    return agg.crossJoin(
        nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )


def tree_edge_betweenness(
    edges: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """Exact edge betweenness on a FOREST: (a, b, n_through) with
    n_through = s·(n−s) — the number of node pairs whose unique tree
    path crosses the edge (s = nodes cut off by removing it, n = the
    component's size). On trees Brandes' algorithm degenerates to
    subtree counting, which parallelizes as LEAF PRUNING: every round
    all current leaves emit their edge (s = the leaf's accumulated
    subtree size), push s to their neighbor, and drop out — rounds ≤
    ⌈diameter/2⌉ + 1 (the bounded-diameter charter of the closure
    caps; a path graph degenerates to n/2 rounds, stated, not
    hidden). Single-linkage cluster diagnostics over the Borůvka
    forest: the highest-n_through edges are the cluster-separating
    bottlenecks. Input that still has edges after ``max_rounds``
    (a cycle — not a forest — or a deeper tree) raises ValueError.

    Plan per round: one degree aggregate, one leaf-edge filter, one
    join against the accumulator frame, one gains aggregate — all
    narrow node keys, frames shrink monotonically, localCheckpoint
    per round."""
    from ..pipeline.cc import connected_components

    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull()
               & (F.col("a") != F.col("b")))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    labels = connected_components(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    comp_n = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("n"))
    acc = (
        labels.join(comp_n, "component")
        .select("node", "n", F.lit(1).cast("bigint").alias("s"))
        .localCheckpoint(eager=True)
    )
    rem = e
    out = None
    for _ in range(max_rounds):
        if rem.isEmpty():
            break
        deg = (
            rem.select(F.col("a").alias("node"))
            .unionByName(rem.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        )
        leaves = deg.where(F.col("deg") == 1).select("node")
        la = leaves.select(F.col("node").alias("a"),
                           F.lit(1).alias("_la"))
        lb = leaves.select(F.col("node").alias("b"),
                           F.lit(1).alias("_lb"))
        marked = rem.join(la, "a", "left").join(lb, "b", "left") \
            .localCheckpoint(eager=True)
        pruned = marked.where(
            F.col("_la").isNotNull() | F.col("_lb").isNotNull())
        keep = marked.where(
            F.col("_la").isNull() & F.col("_lb").isNull()
        ).select("a", "b")
        # both-leaves (final edge of a component): take side a — the
        # cut value s·(n−s) is symmetric there, so the choice is
        # presentation only
        leaf_side = F.when(F.col("_la").isNotNull(), F.col("a")) \
            .otherwise(F.col("b"))
        surv_side = F.when(F.col("_la").isNotNull(), F.col("b")) \
            .otherwise(F.col("a"))
        pe = pruned.select(
            "a", "b",
            leaf_side.alias("leaf"), surv_side.alias("surv"),
        ).join(
            acc.select(F.col("node").alias("leaf"), "n", "s"), "leaf"
        )
        emitted = pe.select(
            "a", "b",
            (F.col("s") * (F.col("n") - F.col("s")))
            .cast("bigint").alias("n_through"),
        ).localCheckpoint(eager=True)
        out = emitted if out is None else out.unionByName(emitted)
        gains = pe.groupBy(F.col("surv").alias("node")).agg(
            F.sum("s").alias("_gain"))
        acc = (
            acc.join(leaves.withColumn("_drop", F.lit(1)),
                     "node", "left")
            .where(F.col("_drop").isNull())
            .drop("_drop")
            .join(gains, "node", "left")
            .select("node", "n",
                    (F.col("s") + F.coalesce(F.col("_gain"), F.lit(0)))
                    .cast("bigint").alias("s"))
            .localCheckpoint(eager=True)
        )
        rem = keep.localCheckpoint(eager=True)
    if not rem.isEmpty():
        raise ValueError(
            "tree_edge_betweenness: input not a forest within "
            f"{max_rounds} pruning rounds (cycle or deeper tree)")
    if out is None:
        return e.select("a", "b",
                        F.lit(0).cast("bigint").alias("n_through"))
    return out
