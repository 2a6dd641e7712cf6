"""Star-schema OLAP rollups over the TPC-H-shaped tables.

The KG pipeline treats these tables as entity sources; a consumer of
the same lake also runs classic dimensional analytics. The pattern to
demonstrate at 100 TB: the FACT side (lineitem) is scanned once and
shuffled at most once on its join key; every dimension chain
(customer → nation → region) is dimension-cardinality and broadcasts
(AQE picks it under the threshold — no forced hints on
data-proportional relations, per the round-1 lesson).

Money arithmetic is INTEGER: prices and discounts convert to cents /
percent once (`ROUND(x*100)` on the identical input double is the
identical integer on any engine), and revenue accumulates as BIGINT
"centi-cents" — float revenue sums in shuffle-arrival order and
drifts in the last ulps, which would make a cross-engine hash compare
a coin flip (same policy as the fixed-point PageRank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _cents(col: F.Column) -> F.Column:
    return F.round(col * 100, 0).cast("bigint")


def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(r_name, n_items, revenue_cc): lineitem revenue
    price_cents × (100 − discount_pct) rolled up through the
    order → customer → nation → region dimension chain."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    rev = _cents(F.col("l_extendedprice")) * (
        F.lit(100).cast("bigint") - _cents(F.col("l_discount"))
    )
    return (
        li.select(F.col("l_orderkey").alias("o_orderkey"),
                  rev.alias("_rev"))
        .join(orders.select("o_orderkey", "o_custkey"), "o_orderkey")
        .join(cust.select(F.col("c_custkey").alias("o_custkey"),
                          "c_nationkey"), "o_custkey")
        .join(nation.select(F.col("n_nationkey").alias("c_nationkey"),
                            "n_regionkey"), "c_nationkey")
        .join(region.select(F.col("r_regionkey").alias("n_regionkey"),
                            "r_name"), "n_regionkey")
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("_rev").alias("revenue_cc"),
        )
    )


def scd2_intervals(
    changelog: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
    end_sentinel: str = "9999-01-01",
) -> DataFrame:
    """Slowly-changing-dimension Type-2 build: collapse a per-key
    attribute changelog into validity intervals. Consecutive rows
    (ordered by ts, then tiebreak) with the SAME attribute value merge
    into one dimension row; a change opens a new version. Returns
    (key, attr, version, valid_from, valid_to, is_current, n_rows)
    with half-open intervals [valid_from, valid_to) and the sentinel
    `end_sentinel` on the open (current) row — the sentinel instead of
    NULL keeps the timestamp column non-nullable, so the cross-engine
    hash compare never meets a NULL-vs-NaT stringification divergence.

    This is the canonical warehouse dimension-history pattern (Kimball
    SCD2): lag → change flag, running sum → version id, partial-agg
    collapse per (key, version), lead → interval close. No joins, no
    second scan of the changelog; the key-partitioned window shuffle
    happens once and the (key, version) collapse is a superset-key
    partial aggregation on top of it."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    versions = (
        changelog.select(key_col, attr_col, ts_col, tiebreak_col)
        .where(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .withColumn("_prev", F.lag(attr_col).over(w))
        .withColumn(
            "_chg",
            F.when(
                F.col("_prev").isNull()
                | (F.col("_prev") != F.col(attr_col)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("version", F.sum("_chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(key_col, "version")
        .agg(
            F.first(attr_col).alias("attr"),
            F.min(ts_col).alias("valid_from"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    wv = Window.partitionBy(key_col).orderBy("version")
    return (
        versions.withColumn(
            "valid_to",
            F.coalesce(
                F.lead("valid_from").over(wv),
                F.lit(end_sentinel).cast("timestamp"),
            ),
        )
        .withColumn(
            "is_current",
            F.when(
                F.lead("valid_from").over(wv).isNull(), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .select(
            F.col(key_col).alias("key"), "attr", "version",
            "valid_from", "valid_to", "is_current", "n_rows",
        )
    )


def cube_revenue(lineitem: DataFrame) -> DataFrame:
    """CUBE over (l_returnflag, l_linestatus): counts and integer
    centi-cent revenue for all four grouping sets — (flag,status),
    (flag), (status), () — disambiguated by grouping_id. Completes the
    grouping family next to events_rollup's ROLLUP: the engine's
    native CUBE expands the sets map-side with partial aggregation
    (one shuffle keyed by the expanded grouping columns), never a
    self-union of four scans — the property that matters when the
    fact table is 100 TB and a 4-scan formulation would read it four
    times."""
    return (
        lineitem.select(
            "l_returnflag", "l_linestatus",
            _cents(F.col("l_extendedprice")).alias("_c"),
        )
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_c").alias("rev_cents"),
        )
    )


def cdc_apply(
    base: DataFrame,
    changelog: DataFrame,
    key_col: str = "key",
    val_col: str = "val",
    op_col: str = "op",
    seq_cols: tuple = ("seq",),
) -> DataFrame:
    """Apply a CDC changelog (upsert/delete stream) onto a base
    snapshot — the MERGE INTO semantics every incremental lakehouse
    pipeline needs, as pure DataFrame ops. `changelog` rows carry
    (key, val, op ∈ {'I','U','D'}, seq...); per key the HIGHEST
    seq-ordered row wins (ties broken by later seq_cols). Result:
    (key, val, src) — keys whose last op is D are deleted; I/U upsert
    the changelog value (src='cdc'); untouched base keys pass through
    (src='base'). I and U are both upserts (idempotent replay safety:
    a resumed stream may re-deliver an insert for an existing key).

    Plan: one window (row_number over key, seq DESC) reduces the
    changelog to latest-per-key — a single shuffle of the changelog,
    map-side nothing else; then one full-outer join against the base
    on the key. At 100 TB the base is the big side: the join shuffles
    each side once on the key (or zero times when both are bucketed
    by key, which is how the snapshot should be stored — this
    operator is exactly the compaction job's inner loop)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        *[F.desc(c) for c in seq_cols]
    )
    latest = (
        changelog.where(F.col(key_col).isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col(key_col).alias("_k"),
            F.col(val_col).alias("_cdc_val"),
            F.col(op_col).alias("_op"),
        )
    )
    b = base.select(
        F.col(key_col).alias("_k"), F.col(val_col).alias("_base_val")
    )
    return (
        b.join(latest, "_k", "full_outer")
        .where(F.col("_op").isNull() | (F.col("_op") != F.lit("D")))
        .select(
            F.col("_k").alias("key"),
            F.coalesce("_cdc_val", "_base_val").alias("val"),
            F.when(F.col("_op").isNull(), F.lit("base"))
            .otherwise(F.lit("cdc")).alias("src"),
        )
    )


def _interleave_bits(col: F.Column, offset: int, bits: int) -> F.Column:
    """Spread `bits` low bits of a non-negative int across even (offset
    0) or odd (offset 1) positions — the Morton/Z-order interleave, as
    a pure Column expression (whole-stage codegen, no UDF)."""
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        out = out + F.shiftleft(
            F.shiftright(col.cast("bigint"), i).bitwiseAND(F.lit(1)),
            2 * i + offset,
        )
    return out


def zorder_layout(
    df: DataFrame,
    col_a: str,
    col_b: str,
    tiebreak_col: str,
    n_files: int = 16,
    bits: int = 16,
) -> DataFrame:
    """Z-order (Morton-curve) data-layout assignment: interleave the
    low `bits` bits of two scan dimensions into one clustering key and
    cut the key's global order into `n_files` equal file buckets.
    Rows close in BOTH dimensions land in the same file, so a
    predicate on EITHER column prunes most files — the multi-column
    locality that one-column sort layouts cannot give, and the core
    of how a 100 TB table keeps min/max file statistics selective for
    two independent filter columns at once.

    At scale the bucket cut is `repartitionByRange(zkey)` +
    sortWithinPartitions at write time (sampled range boundaries, one
    shuffle); here the assignment uses ntile over the exact global
    order with a full (zkey, tiebreak) tie-break — the deterministic,
    oracle-exact twin of that range partition (ntile and range
    boundaries agree up to sampling, and EVERY engine computes ntile
    identically on a total order). The zkey itself is pure integer
    Column arithmetic — codegen'd, no shuffle beyond the cut."""
    from pyspark.sql import Window

    zkey = (
        _interleave_bits(F.col(col_a), 0, bits)
        + _interleave_bits(F.col(col_b), 1, bits)
    ).alias("zkey")
    w = Window.orderBy("zkey", tiebreak_col)
    return (
        df.select(F.col(tiebreak_col), zkey)
        .withColumn("file_id", F.ntile(n_files).over(w))
    )


def zorder_write(
    df: DataFrame,
    col_a: str,
    col_b: str,
    tiebreak_col: str,
    n_files: int = 16,
    bits: int = 16,
) -> DataFrame:
    """The PRODUCTION write path for the z-order layout:
    ``repartitionByRange(n_files, zkey, tiebreak)`` +
    ``sortWithinPartitions`` over the same Morton key as
    :func:`zorder_layout`. One sampled range shuffle — NO global
    window, NO SinglePartition ntile (the plan-asserted difference
    from the oracle twin): the exact file-bucket boundaries differ
    from ntile's only by the range partitioner's sampling, which
    changes file SPLITS, not the clustering property min/max pruning
    relies on. Write the result with ``.write.parquet`` — one file
    per range partition, each internally sorted by zkey, so both
    scan dimensions carry tight per-file min/max statistics."""
    zkey = (
        _interleave_bits(F.col(col_a), 0, bits)
        + _interleave_bits(F.col(col_b), 1, bits)
    ).alias("zkey")
    return (
        df.select("*", zkey)
        .repartitionByRange(n_files, F.col("zkey"), F.col(tiebreak_col))
        .sortWithinPartitions("zkey", tiebreak_col)
    )


def pit_join(
    facts: DataFrame,
    dim: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Point-in-time dimension join: each fact row picks up the
    SCD2 dimension row that was valid AT ITS OWN timestamp — key
    equality plus half-open containment valid_from ≤ ts < valid_to.
    This is the feature-store temporal-correctness join: joining
    facts to the CURRENT dimension row leaks future attribute values
    into training features, the same class of leakage group_split
    prevents across examples, here prevented across time.

    Plan: an equi-join on the key carries the interval predicate as a
    join residual — the dimension has few rows per key (one per
    version), so the per-key fan-in is interval-count bounded and the
    SCD2 intervals partition time (each fact matches EXACTLY one
    dimension row for its key when its ts falls inside the history).
    At 100 TB both sides bucket by the key; the residual evaluates
    within co-located buckets, never as a global range join."""
    d = dim.select(
        F.col(key_col).alias("_dk"),
        *[c for c in dim.columns if c != key_col],
    )
    cond = (
        (facts[key_col] == d["_dk"])
        & (facts[ts_col] >= d[from_col])
        & (facts[ts_col] < d[to_col])
    )
    return facts.join(d, cond, "inner").drop("_dk")


def bucketed_join_revenue(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> DataFrame:
    """The bucketed-layout co-located join, demonstrated end-to-end:
    orders and customer are WRITTEN as bucketed+sorted tables on the
    join key (one file per bucket via an explicit pre-repartition),
    then joined — the scan partitioning satisfies the join's
    distribution requirement, so the physical plan has NO Exchange on
    either join side (PLANS.md carries the explain). This is the
    storage-layout contract a 100 TB snapshot lives by: pay the
    shuffle once at write time, never again on any key join —
    cdc_apply's and pit_join's docstrings both point here.

    Returns per-nation order revenue (nationkey, n_orders,
    revenue_cents) — the aggregate after the join IS allowed to
    shuffle (nation-cardinality); only the fact-sized join must not.
    Tables are re-registered idempotently under temp paths; the
    bucketed layout is the point, the table names are incidental."""
    import tempfile

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        .alias("price_c"),
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    for name, df, key in (
        ("bj_orders", orders, "o_custkey"),
        ("bj_customer", cust, "c_custkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.repartition(n_buckets, key)
            .write.mode("overwrite")
            .option("path", tempfile.mkdtemp(prefix=f"{name}_"))
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    # run the join on a CLONED session with auto-broadcast off (the
    # pagerank/cc per-plan conf-scoping device — the caller's session
    # keeps its thresholds): at gate scale Catalyst would broadcast
    # the dimension, which is ALSO an exchange — the point here is
    # the bucketed sort-merge join with no exchange at all, the plan
    # a fact⋈fact join gets at 100 TB where nothing broadcasts. The
    # result stays bound to the clone, so it plans with the same conf
    # whenever the caller runs it.
    from ..pipeline.cc import _scoped_session

    sess = _scoped_session(
        spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    )
    o = sess.table("bj_orders")
    c = sess.table("bj_customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_c").alias("revenue_cents"),
        )
    )


def zorder_quantile_codes(
    df: DataFrame,
    col_a: str,
    col_b: str,
    tiebreak_col: str,
    bits: int = 6,
) -> DataFrame:
    """Equal-weight Z-order inputs: replace each dimension by its
    quantile code (ntile(2^bits) − 1 over the value order) before
    interleaving. Interleaving RAW values is the classic Z-order
    pitfall when the dimensions span unequal bit widths — the wider
    column's high bits sit above every bit of the narrower one, and
    the 'interleave' degenerates into a single-column sort (measured
    here: a user_id probe hit 16/16 files against raw codes, 2/16
    against quantile codes). ntile preserves per-dimension order, so
    file min/max statistics on the RAW columns stay selective. The
    two global windows are the oracle-exact formulation; at scale the
    codes come from approx-quantile boundaries (a range partitioner
    per dimension), same as the ntile-vs-repartitionByRange twin in
    zorder_layout."""
    from pyspark.sql import Window

    n = 1 << bits
    wa = Window.orderBy(col_a, tiebreak_col)
    wb = Window.orderBy(col_b, tiebreak_col)
    return df.select(
        "*",
        (F.ntile(n).over(wa) - 1).alias("a_code"),
        (F.ntile(n).over(wb) - 1).alias("b_code"),
    )


def zorder_pruning_stats(
    df: DataFrame,
    col_a: str,
    col_b: str,
    tiebreak_col: str,
    probe_a: int,
    probe_b: int,
    n_files: int = 16,
    bits: int = 16,
    code_a: str | None = None,
    code_b: str | None = None,
) -> DataFrame:
    """Quantify what the Z-order layout buys: assign rows to files
    with zorder_layout, then compute each file's min/max STATISTICS
    on BOTH dimensions — exactly what a lakehouse keeps per data file
    — and flag which files a point predicate on either single column
    would have to read (min ≤ probe ≤ max). Because the Morton curve
    clusters both dimensions at once, Σ hit_a and Σ hit_b are both
    ≪ n_files — the two-column pruning no single-column sort layout
    can give; the gate's oracle recomputes the same integer stats, so
    the pruning ratio itself is hash-checked, not just asserted.

    Output: (file_id, n_rows, a_min, a_max, b_min, b_max, hit_a,
    hit_b) — all integers. `code_a`/`code_b` (default: the raw
    columns) select the columns fed to the Morton interleave —
    pass zorder_quantile_codes' outputs when the dimensions span
    unequal ranges; stats and probes always use the raw columns."""
    z = zorder_layout(df, code_a or col_a, code_b or col_b,
                      tiebreak_col, n_files=n_files, bits=bits)
    joined = z.select(tiebreak_col, "file_id").join(
        df.select(tiebreak_col, col_a, col_b), tiebreak_col
    )
    return (
        joined.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(col_a).alias("a_min"), F.max(col_a).alias("a_max"),
            F.min(col_b).alias("b_min"), F.max(col_b).alias("b_max"),
        )
        .select(
            "file_id", "n_rows", "a_min", "a_max", "b_min", "b_max",
            F.when((F.col("a_min") <= probe_a)
                   & (F.col("a_max") >= probe_a), F.lit(1))
            .otherwise(F.lit(0)).alias("hit_a"),
            F.when((F.col("b_min") <= probe_b)
                   & (F.col("b_max") >= probe_b), F.lit(1))
            .otherwise(F.lit(0)).alias("hit_b"),
        )
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    part_col: str = "part",
    file_col: str = "file_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """(part, file_id, bytes, bucket): the small-file compaction
    planner every lakehouse maintenance job runs — within each table
    partition, lay the files out in (bytes desc, file_id) order and
    cut the stream into ~``target_bytes`` rewrite groups by STARTING
    offset (bucket = start_offset DIV target). Size-descending order
    front-loads big files so most groups land within one file of the
    target; the start-offset rule (not a running best-fit) is chosen
    because it is a pure prefix sum two engines compute identically —
    true first-fit-decreasing is order-sequential state that has no
    deterministic set formulation.

    One window per partition key over a METADATA-sized input (one row
    per data file — millions of rows for a petabyte table, never data-
    sized); partitions plan independently and in parallel, which is
    also how the rewrite executes."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(part_col)
        .orderBy(F.desc(bytes_col), F.asc(file_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(bytes_col).over(w), F.lit(0))
    return files.select(
        part_col, file_col, bytes_col,
        start.cast("bigint").alias("_start"),
    ).select(
        part_col, file_col, bytes_col,
        F.expr(f"_start DIV {int(target_bytes)}").alias("bucket"),
    )


def salted_join_agg(
    fact: DataFrame, dim: DataFrame, n_salts: int = 8
) -> DataFrame:
    """fact(k, salt, v) ⋈ dim(k, attr) with the DIMENSION side exploded
    into n_salts shards — the skew-mitigation join for the case AQE's
    broadcast/skew rescue can't apply (both sides too big to
    broadcast, storage not bucketed): every fact row carries a
    deterministic salt in [0, n_salts), the dim replicates each key
    across all salts, and the join key becomes (k, salt), splitting a
    hot key's rows across n_salts reducers instead of one straggler
    task. Replication multiplies the small side by n_salts — the
    standard trade (Beyond-AQE manual salting; AQE skew-join splits
    post-shuffle files and can't help a first-shuffle hot key whose
    map output all hashes to one partition).

    The aggregate after the join re-groups WITHOUT the salt, so the
    result is bit-identical to the unsalted join — which is exactly
    what the gate's oracle states in plain SQL."""
    dim_s = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return (
        fact.join(dim_s, ["k", "salt"])
        .groupBy("attr")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("total_v"),
        )
    )


def grouping_sets_revenue(lineitem: DataFrame) -> DataFrame:
    """Non-hierarchical GROUPING SETS ((returnflag), (linestatus)) over
    lineitem — the sets cube/rollup can't express (cube emits 4
    groupings, rollup a prefix chain; a report wanting exactly the two
    one-dimensional margins uses GROUPING SETS and scans the fact
    ONCE: Spark plans a single Expand + one aggregate, vs two scans +
    a union for the naive twin). gid disambiguates the NULL rows
    (grouping_id bit per grouped-out column, same contract as
    cube_revenue)."""
    sess = lineitem.sparkSession
    lineitem.select(
        "l_returnflag", "l_linestatus",
        _cents(F.col("l_extendedprice")).alias("price_c"),
    ).createOrReplaceTempView("gs_lineitem")
    return sess.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
                 AS gid,
               count(*) AS n_rows, sum(price_c) AS revenue_cents
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """)


def forecast_revenue_change(
    lineitem: DataFrame, year: int = 1996,
    disc_lo: int = 5, disc_hi: int = 7, max_qty: int = 24,
) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the would-have-been
    revenue if discounts in [disc_lo, disc_hi]% on small orders
    (< max_qty) shipped in `year` had been eliminated — one
    predicate-heavy scan + a single global aggregate, the canonical
    filter-pushdown query: every predicate reaches the parquet
    RowGroup stats, and the post-scan work is one partial+final agg.
    Revenue accumulates as BIGINT cent·percent units (price_cents ×
    disc_pct), the integer-money policy.

    Pushdown detail: the year is a half-open DATE RANGE, not
    year(l_shipdate) — a function over the column defeats parquet
    RowGroup pruning; and the exact integer-percent discount cut is
    paired with a redundant raw-double range that DOES push (the
    exact predicate stays for the engine-exact boundary)."""
    price_c = _cents(F.col("l_extendedprice"))
    disc_p = F.round(F.col("l_discount") * 100, 0).cast("bigint")
    return (
        lineitem.where(
            (F.col("l_shipdate")
             >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("l_shipdate")
               < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            & F.col("l_discount").between(disc_lo / 100 - 0.005,
                                          disc_hi / 100 + 0.005)
            & disc_p.between(disc_lo, disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(price_c * disc_p).alias("revenue_cent_pct"),
        )
    )


def shipping_priority(
    spark: SparkSession, sf_dir: str, segment_mod: int = 2,
    cutoff: str = "1998-01-01", k: int = 10,
) -> DataFrame:
    """TPC-H Q3 (shipping priority): top-k unshipped orders by
    pending revenue for one customer segment — the canonical
    3-way star join + top-k: customer (segment-filtered) joins
    orders (date-filtered) joins lineitem (date-filtered), revenue
    aggregates per order, and the top-k cut compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort).
    The fact table shuffles once on l_orderkey; both date predicates
    push into the scans; the customer side broadcasts. Revenue is
    BIGINT centi-cent discounted price; ties break (revenue DESC,
    o_orderdate ASC, orderkey ASC) so the k-th place is
    deterministic."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_custkey") % segment_mod == 0).select("c_custkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
    rev = (_cents(F.col("l_extendedprice"))
           * (100 - F.round(F.col("l_discount") * 100, 0)
              .cast("bigint")))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust),
              orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("revenue_cc"))
        .orderBy(F.desc("revenue_cc"), F.asc("o_orderdate"),
                 F.asc("l_orderkey"))
        .limit(k)
    )


def local_supplier_volume(
    spark: SparkSession, sf_dir: str, region: str = "ASIA",
    year_start: str = "1996-01-01", year_end: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5 (local supplier volume): per-nation revenue where the
    ordering CUSTOMER and the line's SUPPLIER sit in the SAME nation,
    one region, one order year. The defining twist vs Q3-style joins
    is the c_nationkey = s_nationkey equi-condition — expressed by
    joining both dimension chains and matching the two nation keys,
    so Catalyst keeps every join an equi-join (no theta join).

    Plan shape at 100 TB: lineitem (fact) shuffles once on
    l_orderkey; orders carries its date filter into the scan;
    customer/supplier/nation/region are dimension-cardinality and
    broadcast under AQE. Revenue is BIGINT centi-cents."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit(year_start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(year_end).cast("timestamp")))
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region_df = spark.read.parquet(f"{sf_dir}/region.parquet").where(
        F.col("r_name") == region)
    rev = (_cents(F.col("l_extendedprice"))
           * (F.lit(100).cast("bigint") - _cents(F.col("l_discount"))))
    return (
        li.select("l_orderkey", "l_suppkey", rev.alias("_rev"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(supp.select("s_suppkey", "s_nationkey"),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(nation.select("n_nationkey", "n_name", "n_regionkey"),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region_df.select("r_regionkey"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum("_rev").alias("revenue_cc"))
    )


def returned_items(
    spark: SparkSession, sf_dir: str,
    q_start: str = "1996-01-01", q_end: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): the top-k customers by
    revenue LOST to returns (l_returnflag = 'R') for one order
    quarter — the churn-triage report. Fact shuffles once on
    l_orderkey; the return-flag and date predicates push into the
    scans; customer and nation broadcast; the top-k compiles to
    TakeOrderedAndProject. Ties break (revenue DESC, custkey ASC)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_returnflag") == "R")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit(q_start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(q_end).cast("timestamp")))
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (_cents(F.col("l_extendedprice"))
           * (F.lit(100).cast("bigint") - _cents(F.col("l_discount"))))
    return (
        li.select("l_orderkey", rev.alias("_rev"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_name", "c_nationkey",
                          _cents(F.col("c_acctbal"))
                          .alias("acctbal_cents")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(nation.select("n_nationkey", "n_name"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "acctbal_cents", "n_name")
        .agg(F.sum("_rev").alias("revenue_cc"))
        .orderBy(F.desc("revenue_cc"), F.asc("c_custkey"))
        .limit(k)
    )


def promo_revenue(
    spark: SparkSession, sf_dir: str,
    m_start: str = "1996-03-01", m_end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q14 (promotion effect): promo-type revenue vs total
    revenue for one ship month, returned as the EXACT integer pair
    (promo_cc, total_cc) instead of the float percentage — the ratio
    is the consumer's one division, and keeping both sides BIGINT
    makes the result hash-identical on any engine (same num/den
    device as rank_rrf / graph_modularity). Part is the only
    dimension (broadcast); the date filter pushes into the fact
    scan."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit(m_start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(m_end).cast("timestamp")))
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rev = (_cents(F.col("l_extendedprice"))
           * (F.lit(100).cast("bigint") - _cents(F.col("l_discount"))))
    return (
        li.select("l_partkey", rev.alias("_rev"))
        .join(part.select("p_partkey", "p_type"),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", F.col("_rev"))
                  .otherwise(F.lit(0).cast("bigint")))
            .alias("promo_cc"),
            F.sum("_rev").alias("total_cc"),
        )
    )


def large_volume_customers(
    spark: SparkSession, sf_dir: str, qty_threshold: int = 180,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total line
    quantity exceeds the threshold, with their customer and total
    price — the classic aggregate-subquery-IN shape, expressed as a
    HAVING-filtered per-order aggregate joined back to orders +
    customer (a left-semi the optimizer sees through; no correlated
    subquery machinery). Quantities are integral in this lake and
    cast BIGINT BEFORE summing so the threshold compare is exact.
    Fact aggregates on its own key (l_orderkey — co-located with the
    join that follows, one shuffle); top-k by (totalprice DESC,
    orderkey ASC) compiles to TakeOrderedAndProject."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = (
        li.select("l_orderkey",
                  F.round("l_quantity", 0).cast("bigint").alias("_q"))
        .groupBy("l_orderkey")
        .agg(F.sum("_q").alias("sum_qty"))
        .where(F.col("sum_qty") > qty_threshold)
    )
    return (
        big.join(orders.select("o_orderkey", "o_custkey",
                               "o_orderdate",
                               _cents(F.col("o_totalprice"))
                               .alias("totalprice_cents")),
                 F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_name"),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                "totalprice_cents", "sum_qty")
        .orderBy(F.desc("totalprice_cents"), F.asc("o_orderkey"))
        .limit(k)
    )


def nation_trade_volume(
    spark: SparkSession, sf_dir: str,
    nation_a: str = "NATION_1", nation_b: str = "NATION_2",
    d_start: str = "1995-01-01", d_end: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade between two
    nations — revenue where the SUPPLIER sits in one and the ordering
    CUSTOMER in the other, either direction, grouped by
    (supp_nation, cust_nation, ship year). The disjunctive
    nation-pair predicate is applied AFTER both broadcast dimension
    joins as a codegen'd filter (it references both sides, so it
    can't be pushed into either scan — but both nation columns arrive
    via broadcasts, so the fact row never shuffles for it).
    Revenue in BIGINT centi-cents; year via year() (integer on any
    engine)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit(d_start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(d_end).cast("timestamp")))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (_cents(F.col("l_extendedprice"))
           * (F.lit(100).cast("bigint") - _cents(F.col("l_discount"))))
    n1 = nation.select(F.col("n_nationkey").alias("_snk"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("_cnk"),
                       F.col("n_name").alias("cust_nation"))
    pair_ok = (
        ((F.col("supp_nation") == nation_a)
         & (F.col("cust_nation") == nation_b))
        | ((F.col("supp_nation") == nation_b)
           & (F.col("cust_nation") == nation_a))
    )
    return (
        li.select("l_orderkey", "l_suppkey",
                  F.year("l_shipdate").alias("l_year"),
                  rev.alias("_rev"))
        .join(supp.select("s_suppkey", F.col("s_nationkey")
                          .alias("_snk")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", F.col("c_nationkey")
                          .alias("_cnk")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, "_snk").join(n2, "_cnk")
        .where(pair_ok)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum("_rev").alias("revenue_cc"))
    )


def discounted_revenue(
    spark: SparkSession, sf_dir: str,
) -> DataFrame:
    """TPC-H Q19 (discounted revenue): revenue over THREE disjunctive
    brand/size/quantity branches — the canonical OR-of-conjunctions
    predicate. The part-side conjuncts evaluate on the broadcast
    dimension; the common l_quantity envelope (the union of the three
    branch ranges, 1..36) is factored out and PUSHED into the fact
    scan, so the disjunction only runs on envelope survivors — the
    standard disjunctive-pushdown trick, visible as a PushedFilters
    range on l_quantity. Single-row (n_items, revenue_cc) output,
    BIGINT centi-cents."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 36))
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rev = (_cents(F.col("l_extendedprice"))
           * (F.lit(100).cast("bigint") - _cents(F.col("l_discount"))))
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 5)
         & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 10)
           & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size") <= 15)
           & (q >= 20) & (q <= 36))
    )
    return (
        li.select("l_partkey", "l_quantity", rev.alias("_rev"))
        .join(part.select("p_partkey", "p_brand", "p_size"),
              F.col("l_partkey") == F.col("p_partkey"))
        .where(branch)
        .agg(F.count(F.lit(1)).alias("n_items"),
             # coalesce: an empty match set reports 0 revenue, not
             # NULL (a NULL bigint would round-trip as NaN through
             # pandas-based oracle fetches)
             F.coalesce(F.sum("_rev"), F.lit(0).cast("bigint"))
             .alias("revenue_cc"))
    )


def customer_distribution(
    spark: SparkSession, sf_dir: str,
    excluded_priority: str = "1-URGENT",
) -> DataFrame:
    """TPC-H Q13 (customer distribution): the count-of-counts
    histogram — how many customers placed exactly N qualifying
    orders, INCLUDING the zero-order customers (the LEFT join is the
    point of Q13; an inner join silently drops the biggest bucket).
    Two aggregations: per-customer order count (shuffle on custkey,
    map-side partial), then the tiny count-of-counts rollup. The
    per-customer phase is the classic skew probe — a mega-customer
    hot key shows up here first; AQE skew-join handling covers it at
    scale since the aggregate is two-phase."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderpriority") != excluded_priority)
    per_cust = (
        cust.select("c_custkey")
        .join(orders.select("o_custkey", "o_orderkey"),
              cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def order_priority_check(
    spark: SparkSession, sf_dir: str,
    q_start: str = "1996-01-01", q_end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted to this lake's
    columns: per priority, how many orders in the quarter have AT
    LEAST ONE late line (l_shipdate after the order date — the lake
    has no commitdate/receiptdate pair, so "late" is
    ship-after-order; the semantics under test is the EXISTS, not the
    lateness rule). The EXISTS compiles to a LEFT SEMI join — the
    fact side never duplicates order rows however many lines match,
    which is the entire point of Q4's subquery (a plain join +
    distinct would shuffle the multiplicity first and dedup after).
    Date predicate pushes into the orders scan."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit(q_start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(q_end).cast("timestamp")))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    late = (
        li.select("l_orderkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .select("l_orderkey")
    )
    return (
        orders.join(late,
                    orders["o_orderkey"] == late["l_orderkey"],
                    "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative monthly revenue per nation: (n_name, month,
    revenue_cc, running_cc) with the running total as an UNBOUNDED
    PRECEDING window over the per-nation month series — the
    dashboard/LTV curve primitive. The window runs AFTER the
    aggregate, so it orders nation-month rows (tiny), never the fact
    table; revenue is BIGINT centi-cents end to end so the running
    sum is order-exact. month = date_trunc (engine-identical)."""
    from pyspark.sql import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (_cents(F.col("l_extendedprice"))
           * (F.lit(100).cast("bigint") - _cents(F.col("l_discount"))))
    monthly = (
        li.select("l_orderkey", rev.alias("_rev"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(nation.select("n_nationkey", "n_name"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name",
                 F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.sum("_rev").alias("revenue_cc"))
    )
    w = (Window.partitionBy("n_name").orderBy("month")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return monthly.withColumn(
        "running_cc", F.sum("revenue_cc").over(w))


def market_share(
    spark: SparkSession, sf_dir: str, region: str = "AMERICA",
    supp_nation: str = "NATION_3", p_type: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8 (national market share): per order year, the share of
    one region's revenue for one product type that was supplied by
    one nation. The share is kept as an exact BIGINT rational
    (share_num_cc = target-nation revenue, share_den_cc = all-nation
    revenue) — the same no-float-ever-compared device as
    graph_modularity, so two engines can hash-match the division
    without agreeing on rounding. Plan shape at 100 TB: lineitem
    shuffles once on l_orderkey; the part filter broadcasts into the
    fact scan's semi side; customer/supplier/nation/region broadcast;
    the year aggregate is 7 rows. The conditional numerator is a
    sum(CASE) in the SAME aggregate as the denominator — one pass,
    not two joined aggregates."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        F.col("p_type") == p_type).select("p_partkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region_df = spark.read.parquet(f"{sf_dir}/region.parquet").where(
        F.col("r_name") == region)
    rev = (_cents(F.col("l_extendedprice"))
           * (F.lit(100).cast("bigint") - _cents(F.col("l_discount"))))
    supp_n = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("sn_name"))
    cust_n = nation.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_regionkey"))
    return (
        li.select("l_orderkey", "l_partkey", "l_suppkey",
                  rev.alias("_rev"))
        .join(F.broadcast(part),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_n),
              F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region_df.select("r_regionkey")),
              F.col("cn_regionkey") == F.col("r_regionkey"))
        .join(supp.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_n),
              F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("sn_name") == supp_nation,
                         F.col("_rev")).otherwise(F.lit(0)))
            .alias("share_num_cc"),
            F.sum("_rev").alias("share_den_cc"),
        )
    )


def shipmode_priority(
    spark: SparkSession, sf_dir: str,
    year_start: str = "1996-01-01", year_end: str = "1997-01-01",
    late_days: int = 60,
) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority), adapted to this
    lake: the lake has no l_shipmode / commitdate / receiptdate, so
    shipmode is the deterministic synthetic column
    MODES[(l_orderkey + l_linenumber) % 4] (both engines state the
    same formula) and "late" is l_shipdate > o_orderdate + late_days.
    Per shipmode over one shipment year: how many late lines belong
    to high-priority orders (1-URGENT/2-HIGH) vs low — the
    logistics-quality report. One fact shuffle on l_orderkey; the
    date window pushes into the lineitem scan; the CASE split is one
    aggregate pass."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit(year_start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(year_end).cast("timestamp")))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    modes = F.array(F.lit("MAIL"), F.lit("SHIP"),
                    F.lit("AIR"), F.lit("TRUCK"))
    shipmode = F.element_at(
        modes,
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 4 + 1)
        .cast("int"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select("l_orderkey", "l_linenumber", "l_shipdate",
                  shipmode.alias("shipmode"))
        .join(orders.select("o_orderkey", "o_orderdate",
                            "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS"))
        .groupBy("shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint")
            .alias("low_line_count"),
        )
    )


def top_supplier(
    spark: SparkSession, sf_dir: str,
    q_start: str = "1996-01-01", q_end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with the maximum
    quarterly revenue. The reference formulation is a view joined
    against its own MAX — here the per-supplier aggregate computes
    once, and the global max joins back as a broadcast single-row
    cross join + filter (the bounded-scalar policy: one row, never a
    collect). Ties all surface (same as the SQL's equality join).
    Revenue is BIGINT centi-cents."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit(q_start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(q_end).cast("timestamp")))
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    rev = (_cents(F.col("l_extendedprice"))
           * (F.lit(100).cast("bigint") - _cents(F.col("l_discount"))))
    per_supp = (
        li.select("l_suppkey", rev.alias("_rev"))
        .groupBy("l_suppkey")
        .agg(F.sum("_rev").alias("total_revenue_cc"))
    )
    mx = per_supp.agg(
        F.max("total_revenue_cc").alias("_max_rev"))
    return (
        per_supp.join(F.broadcast(mx),
                      F.col("total_revenue_cc") == F.col("_max_rev"))
        .join(supp.select("s_suppkey", "s_name"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_cc")
    )


def small_qty_revenue(
    spark: SparkSession, sf_dir: str, brand: str = "Brand#13",
) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): total revenue from
    lines of one brand whose quantity is below 50% of that part's
    average ordered quantity — the "would dropping small orders
    hurt?" estimate. The avg comparison is cross-multiplied into
    BIGINTs (2 * qty * n_lines < sum_qty) so no float average is
    ever compared. Per-part stats aggregate FIRST (part-sized, tiny)
    and broadcast back onto the brand-filtered lines — the fact table
    never self-joins. Output is one row (revenue_cc, n_small_lines)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        F.col("p_brand") == brand).select("p_partkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    brand_lines = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    stats = (
        brand_lines
        .groupBy("l_partkey")
        .agg(F.sum(F.round("l_quantity", 0).cast("bigint"))
             .alias("_sum_qty"),
             F.count(F.lit(1)).alias("_n_lines"))
        .select(F.col("l_partkey").alias("_pk"),
                "_sum_qty", "_n_lines")
    )
    qty = F.round("l_quantity", 0).cast("bigint")
    return (
        brand_lines
        .join(F.broadcast(stats), F.col("l_partkey") == F.col("_pk"))
        .where((qty * 2 * F.col("_n_lines")) < F.col("_sum_qty"))
        .agg(F.coalesce(F.sum(_cents(F.col("l_extendedprice"))),
                        F.lit(0).cast("bigint")).alias("revenue_cc"),
             F.count(F.lit(1)).alias("n_small_lines"))
    )


def waiting_suppliers(
    spark: SparkSession, sf_dir: str, nation: str | None = None,
    late_days: int = 60, k: int = 25,
) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted to this
    lake's columns ("late" = l_shipdate > o_orderdate + late_days;
    the lake has no commit/receipt pair): per supplier (optionally of
    one nation — the gate runs unfiltered so the small-SF fixture is
    never empty), how many finished ('F') multi-supplier orders the
    supplier was the ONLY late one on. The EXISTS (another supplier contributed)
    compiles to LEFT SEMI and the NOT EXISTS (no OTHER supplier was
    late) to LEFT ANTI — both on l_orderkey with a suppkey-inequality
    residual, never duplicating the probe rows. The fact table is
    touched three times but every pass carries only
    (l_orderkey, l_suppkey, l_shipdate); top-k compiles to
    TakeOrderedAndProject."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderstatus") == "F")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    if nation is not None:
        nat = spark.read.parquet(f"{sf_dir}/nation.parquet").where(
            F.col("n_name") == nation)
        supp = supp.join(
            F.broadcast(nat.select("n_nationkey")),
            F.col("s_nationkey") == F.col("n_nationkey"))
    late = (F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS"))
    l1 = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .where(late)
        .select("l_orderkey", "l_suppkey")
        .join(supp.select("s_suppkey", "s_name"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    l2 = li.select(F.col("l_orderkey").alias("o2_key"),
                   F.col("l_suppkey").alias("s2_key"))
    l3 = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .where(late)
        .select(F.col("l_orderkey").alias("o3_key"),
                F.col("l_suppkey").alias("s3_key"))
    )
    return (
        l1.join(l2, (F.col("l_orderkey") == F.col("o2_key"))
                & (F.col("l_suppkey") != F.col("s2_key")),
                "left_semi")
        .join(l3, (F.col("l_orderkey") == F.col("o3_key"))
              & (F.col("l_suppkey") != F.col("s3_key")),
              "left_anti")
        .groupBy("l_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("l_suppkey"))
        .limit(k)
    )


def sales_opportunity(
    spark: SparkSession, sf_dir: str,
    codes: tuple = (1, 3, 5, 7),
    inactive_since: str = "2001-01-01",
) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted twice to this
    lake: the "country code" is the deterministic c_nationkey % 10
    (no c_phone column — both engines state the formula), and
    "lapsed" means NO orders since `inactive_since` (Q22's spirit is
    7-year inactivity; this lake's generator gives every customer at
    least one early order, so no-orders-EVER is the empty set at
    every SF). Per code: lapsed customers whose account balance
    exceeds the average POSITIVE balance of that code cohort. The
    inactivity test is a LEFT ANTI join against the date-filtered
    orders scan (predicate pushed down); the average is never a
    float — the comparison cross-multiplies (acctbal_cc * n >
    sum_cc). The cohort average is computed per code (grouped, tiny)
    and broadcast back."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey",
        (F.col("c_nationkey") % 10).cast("bigint").alias("cntrycode"),
        _cents(F.col("c_acctbal")).alias("acctbal_cc"),
    ).where(F.col("cntrycode").isin(*codes))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    avg_pos = (
        cust.where(F.col("acctbal_cc") > 0)
        .groupBy("cntrycode")
        .agg(F.sum("acctbal_cc").alias("_sum_cc"),
             F.count(F.lit(1)).alias("_n"))
        .select(F.col("cntrycode").alias("_code"), "_sum_cc", "_n")
    )
    return (
        cust
        .join(orders.where(F.col("o_orderdate")
                           >= F.lit(inactive_since).cast("timestamp"))
              .select("o_custkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(avg_pos),
              F.col("cntrycode") == F.col("_code"))
        .where(F.col("acctbal_cc") * F.col("_n") > F.col("_sum_cc"))
        .groupBy("cntrycode")
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.sum("acctbal_cc").alias("totacctbal_cc"))
    )


def partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake carries no partsupp table, so the partsupp-backed
    TPC-H queries (Q2/Q9/Q11/Q16/Q20) derive one deterministically:
    the DISTINCT (l_partkey, l_suppkey) pairs that actually appear in
    lineitem (so every fact row joins, like real TPC-H guarantees),
    with supply cost and available quantity as closed-form BIGINT
    formulas on the pair — both engines state the identical
    expressions, so the synthetic columns can never drift:

        ps_supplycost_cc = (pk*31 + sk*17) % 90000 + 10000
        ps_availqty      = (pk*11 + sk*5)  % 9999  + 1

    Scale shape: one distinct over two fact columns (a single shuffle
    that AQE-coalesces; at 100 TB this is the classic dimension-
    derivation sweep and the result is ≤ |part|×avg-suppliers —
    cache/bucket it once per run, which is what the per-query
    call sites do implicitly via Spark's scan reuse)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pk, sk = F.col("ps_partkey"), F.col("ps_suppkey")
    return (
        li.select(F.col("l_partkey").alias("ps_partkey"),
                  F.col("l_suppkey").alias("ps_suppkey"))
        .dropDuplicates(["ps_partkey", "ps_suppkey"])
        .select(
            "ps_partkey", "ps_suppkey",
            ((pk * 31 + sk * 17) % 90000 + 10000).cast("bigint")
            .alias("ps_supplycost_cc"),
            ((pk * 11 + sk * 5) % 9999 + 1).cast("bigint")
            .alias("ps_availqty"),
        )
    )


def min_cost_supplier(
    spark: SparkSession, sf_dir: str, region: str = "EUROPE",
    p_type: str = "STANDARD", size_mod: int = 5, k: int = 100,
) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each part of one type in
    one size bucket, the region supplier(s) quoting the MINIMUM
    supply cost — the correlated-subquery classic. The argmin is a
    per-part MIN aggregate joined back on (partkey, cost) — the
    scalable formulation (two passes over the dimension-sized
    partsupp slice, no window over a global sort). Supplier/nation/
    region broadcast; the part filter broadcasts into partsupp.
    Top-k ties break on the full output key so the k-th row is
    deterministic."""
    ps = partsupp(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        (F.col("p_type") == p_type)
        & (F.col("p_size") % size_mod == 0)).select("p_partkey")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region_df = spark.read.parquet(f"{sf_dir}/region.parquet").where(
        F.col("r_name") == region)
    eligible = (
        ps.join(F.broadcast(part),
                F.col("ps_partkey") == F.col("p_partkey"))
        .join(supp.select("s_suppkey", "s_name", "s_nationkey",
                          _cents(F.col("s_acctbal"))
                          .alias("acctbal_cc")),
              F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name",
                                        "n_regionkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region_df.select("r_regionkey")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "ps_suppkey", "ps_supplycost_cc",
                "s_name", "n_name", "acctbal_cc")
    )
    mn = (
        eligible.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost_cc").alias("_min_cost"))
        .select(F.col("ps_partkey").alias("_pk"), "_min_cost")
    )
    return (
        eligible.join(
            mn, (F.col("ps_partkey") == F.col("_pk"))
            & (F.col("ps_supplycost_cc") == F.col("_min_cost")))
        .select("acctbal_cc", "s_name", "n_name",
                F.col("ps_partkey").alias("p_partkey"),
                F.col("ps_supplycost_cc").alias("supplycost_cc"))
        .orderBy(F.desc("acctbal_cc"), F.asc("n_name"),
                 F.asc("s_name"), F.asc("p_partkey"))
        .limit(k)
    )


def product_type_profit(
    spark: SparkSession, sf_dir: str, name_like: str = "%rod%",
) -> DataFrame:
    """TPC-H Q9 (product-type profit): per (supplier nation, order
    year), profit = discounted revenue minus supply cost, for parts
    whose name matches a pattern. Every term is BIGINT at the same
    scale — price_cc×(100−disc_pct) and supplycost_cc×100×qty are
    both centi-cent·percent units, so profit_cc sums exactly. The
    fact table joins partsupp on the composite (partkey, suppkey) —
    the one TPC-H join that is NOT a single-key star join, which is
    why Q9 is the shuffle-planner stress test; the part-name filter
    broadcasts, nation broadcasts, orders provides the year."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ps = partsupp(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        F.col("p_name").like(name_like)).select("p_partkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    qty = F.round("l_quantity", 0).cast("bigint")
    profit = (
        _cents(F.col("l_extendedprice"))
        * (F.lit(100).cast("bigint") - _cents(F.col("l_discount")))
        - F.col("ps_supplycost_cc") * F.lit(100).cast("bigint") * qty
    )
    return (
        li.join(F.broadcast(part),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(ps, (F.col("l_partkey") == F.col("ps_partkey"))
              & (F.col("l_suppkey") == F.col("ps_suppkey")))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(F.sum(profit).alias("profit_cc"),
             F.count(F.lit(1)).alias("n_lines"))
    )


def important_stock(
    spark: SparkSession, sf_dir: str, nation: str = "NATION_3",
    mult_num: int = 3, mult_den: int = 2,
) -> DataFrame:
    """TPC-H Q11 (important stock identification): per part, the
    total supply value (cost × availqty) held by one nation's
    suppliers, keeping parts whose value exceeds mult_num/mult_den
    (default 1.5×) of the nation's AVERAGE per-part value — the
    HAVING-against-a-global-scalar shape. TPC-H's literal fraction-
    of-total threshold scales as 1/SF (a fixed fraction selects
    everything or nothing as the slice grows), so the gate uses the
    scale-free above-average form. The scalar is a single-row
    aggregate broadcast back (bounded-driver policy: no collect), and
    the comparison is cross-multiplied
    (value·n_parts·mult_den > total·mult_num) so no float ratio is
    ever computed."""
    ps = partsupp(spark, sf_dir)
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").where(
        F.col("n_name") == nation)
    slice_ = (
        ps.join(supp.select("s_suppkey", "s_nationkey"),
                F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat.select("n_nationkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("ps_partkey",
                (F.col("ps_supplycost_cc") * F.col("ps_availqty"))
                .alias("_value"))
    )
    per_part = slice_.groupBy("ps_partkey").agg(
        F.sum("_value").alias("value_cc"))
    total = per_part.agg(F.sum("value_cc").alias("_total"),
                         F.count(F.lit(1)).alias("_n_parts"))
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("value_cc") * F.col("_n_parts") * mult_den
               > F.col("_total") * mult_num)
        .select("ps_partkey", "value_cc")
    )


def parts_supplier_counts(
    spark: SparkSession, sf_dir: str, excl_brand: str = "Brand#13",
    excl_type: str = "PROMO", sizes: tuple = (5, 10, 15, 20, 25, 30),
    complaint_mod: int = 7,
) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many DISTINCT
    suppliers can supply each (brand, type, size) combination,
    excluding one brand, one type, off-list sizes, and "complaint"
    suppliers (adapted: the lake has no s_comment, so complaints are
    the deterministic s_suppkey % complaint_mod == 0 — both engines
    state the formula). The exclusion is a broadcast LEFT ANTI join
    (TPC-H's NOT IN subquery); the distinct count shuffles once on
    the grouping key."""
    ps = partsupp(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        (F.col("p_brand") != excl_brand)
        & (F.col("p_type") != excl_type)
        & (F.col("p_size").isin(*sizes)))
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").where(
        F.col("s_suppkey") % complaint_mod == 0).select("s_suppkey")
    return (
        ps.join(F.broadcast(part.select(
            "p_partkey", "p_brand", "p_type", "p_size")),
            F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp),
              F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type",
                 F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


def part_promotion_suppliers(
    spark: SparkSession, sf_dir: str, name_prefix: str = "small%",
    year_start: str = "1996-01-01", year_end: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers holding excess
    stock of promotion-candidate parts — a partsupp row qualifies
    when availqty exceeds HALF the quantity that (part, supplier)
    pair actually shipped in the target year (availqty·2 >
    sum_shipped, cross-multiplied). Mirrors TPC-H's scalar-subquery
    NULL semantics: a pair with NO shipments in the year does NOT
    qualify (the subquery yields NULL and the comparison fails), so
    the aggregate-then-join is INNER. Output is per qualifying
    supplier with its COUNT of excess-stock parts — the count varies
    per supplier, so the oracle hash checks real values, not a
    roster. The shipped-quantity aggregate reduces the fact slice
    FIRST (pair-sized) and joins partsupp on the composite key."""
    ps = partsupp(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        F.col("p_name").like(name_prefix)).select("p_partkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit(year_start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(year_end).cast("timestamp")))
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    shipped = (
        li.groupBy(F.col("l_partkey").alias("_pk"),
                   F.col("l_suppkey").alias("_sk"))
        .agg(F.sum(F.round("l_quantity", 0).cast("bigint"))
             .alias("_shipped"))
    )
    return (
        ps.join(F.broadcast(part),
                F.col("ps_partkey") == F.col("p_partkey"))
        .join(shipped, (F.col("ps_partkey") == F.col("_pk"))
              & (F.col("ps_suppkey") == F.col("_sk")))
        .where(F.col("ps_availqty") * 2 > F.col("_shipped"))
        .groupBy("ps_suppkey")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
        .join(supp.select("s_suppkey", "s_name"),
              F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_excess_parts")
    )
