"""Extended operator coverage beyond the SURVEY §2 core 30 (all
oracled unless noted): as-of join, full outer join, cube grouping,
analytic window functions, advanced string/date scalars, plus
rows-only approx-distinct and sliding windows.

These close the §2.2 'consciously excluded' gaps (full outer, as-of,
cube, approx family, sliding windows) with DuckDB-verifiable
semantics where the dialects agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from puregraphdb_spark.functions.numeric import decimal_round
from puregraphdb_spark.operators.asof import as_of_join
from puregraphdb_spark.sources.registry import (
    broadcast_if_small, final_sort, load_table,
)


def q31_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase event: the user's most recent click at-or-
    before it (inner as-of semantics). One shuffle on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = as_of_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["ts", "value"], prefix="click_",
    )
    return final_sort(
        joined.filter(F.col("click_ts").isNotNull())
        .select(
            "event_id", "user_id", "ts",
            F.col("click_ts"),
            F.round("click_value", 2).alias("click_val"),
        ),
        spark, sf_dir, "events", "event_id",
    )


def q32_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation counts of high-balance customers FULL OUTER JOIN
    high-balance suppliers — both sides sparse, so every outer case
    (left-only / right-only / both) occurs."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count("*").alias("n_supp"))
    )
    return final_sort(
        c.join(s, c.nk_c == s.nk_s, "full_outer")
        .select(
            F.coalesce("nk_c", "nk_s").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        ),
        spark, sf_dir, "customer", "nationkey",
    )


def q33_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping sets in
    one Expand + single shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    return final_sort(
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
            "sum_price",
        ),
        spark, sf_dir, "lineitem", "rf", "ls",
    )


def q34_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank / ntile / first_value / partition-wide avg deviation
    per customer — one shuffle + one in-partition sort for all four."""
    o = load_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    wp = Window.partitionBy("o_custkey")
    return final_sort(
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.dense_rank().over(wo).cast("long").alias("dr"),
            F.ntile(4).over(wo).cast("long").alias("quartile"),
            F.round(F.first("o_totalprice").over(wo), 2).alias("top_price"),
            # deviation from a division result: snap to the decimal
            # grid before rounding so both engines make the identical
            # half-boundary call (functions.numeric).
            decimal_round(
                F.col("o_totalprice") - F.avg("o_totalprice").over(wp),
                2, grid=6,
            ).alias("dev"),
        ),
        spark, sf_dir, "orders", "o_custkey", "o_orderkey",
    )


def q35_string_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advanced scalar coverage with dialect-agreeing semantics:
    lpad, reverse, split_part, date_trunc."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 500 == 3)
    # no hint on customer (scale-growing): the 64 MB threshold decides
    # from file size — broadcast at fixture scale, shuffle join at 100 TB.
    return final_sort(
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded"),
            F.reverse(F.substring("c_name", 1, 6)).alias("rev6"),
            F.split_part("c_name", F.lit("#"), F.lit(2)).alias("cust_num"),
            F.date_trunc("month", "o_orderdate").alias("order_month"),
        ),
        spark, sf_dir, "orders", "o_orderkey",
    )


def q36_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT linestatus into columns (per-returnflag quantity matrix).

    Spark's `pivot` with an explicit value list compiles to conditional
    aggregation (one Expand-free shuffle, map-side partial agg) — the
    values list avoids the extra distinct-discovery job, which at
    100 TB would be a full scan of its own. Oracle = the equivalent
    CASE WHEN conditional aggregation.
    """
    l = load_table(spark, sf_dir, "lineitem")
    return final_sort(
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o"),
        spark, sf_dir, "lineitem", "l_returnflag",
    )


def q37_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar family: rlike match counting, regexp_extract with a
    capture group, regexp_replace masking. Patterns restricted to the
    dialect-agreeing subset (anchors, classes, quantifiers — identical
    under Java regex and RE2). Pure map + 1 shuffle on the group key.
    """
    c = load_table(spark, sf_dir, "customer")
    return final_sort(
        c.groupBy("c_mktsegment")
        .agg(
            F.count(
                F.when(F.col("c_name").rlike("[0-9]{9}$"), F.lit(1))
            ).alias("n_match"),
            F.max(
                F.regexp_extract("c_name", "([0-9]+)", 1).cast("long")
            ).alias("max_id"),
            F.min(
                F.regexp_replace("c_name", "[0-9]+", "#")
            ).alias("min_masked"),
        ),
        spark, sf_dir, "customer", "c_mktsegment",
    )


def q38_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scalar (fuzzy string matching) aggregated per part
    type — the cheap typo/near-match primitive of data-cleaning
    pipelines. levenshtein() is JVM-side in Spark and agrees with
    DuckDB's definition exactly (unit-cost insert/delete/substitute).
    """
    p = load_table(spark, sf_dir, "part")
    return final_sort(
        p.groupBy("p_type")
        .agg(
            F.min(F.levenshtein("p_name", F.lit("red widget"))).cast("long").alias("min_dist"),
            F.round(
                F.avg(F.levenshtein(F.substring("p_name", 1, 5), F.lit("small"))), 4
            ).alias("avg_prefix_dist"),
            F.count("*").alias("n"),
        ),
        spark, sf_dir, "part", "p_type",
    )


def q39_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list aggregation: suppliers per nation as a sorted
    comma-joined string.

    collect_list has no intra-group order guarantee in a distributed
    agg — sort_array AFTER collection is the deterministic form
    (equivalent to the oracle's `string_agg(... order by ...)`), and it
    keeps the agg a single shuffle instead of forcing a pre-sort.
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return final_sort(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("s_name")), ","
            ).alias("suppliers"),
            F.count("*").alias("n_supp"),
        ),
        spark, sf_dir, "supplier", "nation",
    )


def q40_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((returnflag),(linestatus)) with a grouping_id.

    The DataFrame API exposes only rollup/cube; arbitrary grouping
    sets are the union of the member groupings — each leg is its own
    map-side-partial agg, and the tiny grouped outputs concatenate
    without a barrier. gid matches DuckDB's grouping(a,b) bit field
    (bit set = column aggregated away): (rf) leg → ls bit = 1,
    (ls) leg → rf bit = 2.
    """
    l = load_table(spark, sf_dir, "lineitem")
    by_rf = (
        l.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.col("l_returnflag").alias("rf"),
            F.lit("ALL").alias("ls"),
            F.lit(1).cast("long").alias("gid"),
            "n", "sum_qty",
        )
    )
    by_ls = (
        l.groupBy("l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.lit("ALL").alias("rf"),
            F.col("l_linestatus").alias("ls"),
            F.lit(2).cast("long").alias("gid"),
            "n", "sum_qty",
        )
    )
    return final_sort(by_rf.unionByName(by_ls),
                      spark, sf_dir, "lineitem", "rf", "ls")


# -- rows-only extras --------------------------------------------------------


def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approximate distinct parts/suppliers per returnflag
    (rows-only: HLL implementations differ across engines by design).
    1 shuffle, fixed-size sketches — the 100-TB path where exact
    distinct (q03) stops scaling."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.approx_count_distinct("l_suppkey").alias("approx_supp"),
        )
        .orderBy("l_returnflag")
    )


def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes over events. Each event
    lands in 4 overlapping windows — Expand then one shuffle. Fully
    oracled: Spark's sliding windows are epoch-aligned, so the oracle
    reproduces each event's window starts with generate_series over
    time_bucket-aligned timestamps."""
    ev = load_table(spark, sf_dir, "events")
    return final_sort(
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").start.alias("win"),
            "event_type",
        )
        .agg(F.count("*").alias("n")),
        spark, sf_dir, "events", "win", "event_type",
    )


def q41_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery (TPC-H Q17 shape): lineitems whose
    quantity is below half their part's average quantity.

    Spark-first decorrelation: the per-partkey average is a separate
    aggregate joined back on the correlation key — exactly the plan
    Catalyst derives from the SQL form, written explicitly so the join
    strategy is visible: the per-part averages are one row per partkey —
    a SIZE-AWARE broadcast (``broadcast_if_small`` keyed on the measured
    part-table size, Catalyst can't estimate an aggregate keyed on an
    unbounded column): hinted at fixture scale, co-partitioned shuffle
    join at 100 TB where a forced hint would OOM. The oracle keeps the
    correlated-subquery form to prove semantic equivalence across
    formulations.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_part = l.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    per_part = broadcast_if_small(per_part, spark, sf_dir, "part")
    return final_sort(
        l.join(per_part, l.l_partkey == per_part.ap_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            # exact decimal sum (2-dp prices) → identical double on both
            # engines → identical /7.0 → identical grid-6 snap + round
            decimal_round(
                F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
                .cast("double") / 7.0,
                2, grid=6,
            ).alias("avg_yearly"),
            F.count("*").alias("n"),
        ),
        spark, sf_dir, "lineitem", "p_brand",
    )


def q42_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS correlated subquery: high-balance customers with no
    jumbo order (o_totalprice > 400k). Anti-join: the customer filter
    sits before the join, the orders side is filter-then-project (only
    the key crosses the exchange).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    jumbo = o.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return final_sort(
        c.filter(F.col("c_acctbal") > 1000)
        .join(jumbo, c.c_custkey == jumbo.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_cust")),
        spark, sf_dir, "orders", "c_mktsegment",
    )


def q43_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery threshold: orders above the global average
    price, grouped by priority.

    The global average is a 1-row aggregate cross-joined (broadcast —
    it IS one row) onto the scan; Catalyst folds it into the filter.
    Equivalent to the oracle's `where o_totalprice > (select avg...)`
    without a driver-side collect of the threshold.
    """
    o = load_table(spark, sf_dir, "orders")
    # exact decimal sum / count → the threshold double is bit-identical
    # on both engines (a raw double avg would carry summation-order
    # noise right at the comparison boundary).
    threshold = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("double")
            / F.count("*")
        ).alias("global_avg")
    )
    return final_sort(
        o.join(F.broadcast(threshold))
        .filter(F.col("o_totalprice") > F.col("global_avg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            decimal_round(
                F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
                .cast("double") / F.count("*"),
                2, grid=6,
            ).alias("avg_price"),
        ),
        spark, sf_dir, "orders", "o_orderpriority",
    )


def q44_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-interval arithmetic inside a join predicate: lineitems
    shipped within 60 days of their order date. The interval add stays
    timestamp-typed (o_orderdate is a parquet timestamp) so both
    engines compare identical instants; the equi-key join carries the
    residual as a post-join filter — no range-join blowup.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # no hint on orders (scale-growing): the threshold broadcasts it at
    # fixture scale; at 100 TB this becomes the orderkey-co-partitioned
    # shuffle join (both sides load-partitioned on the key).
    return final_sort(
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate").cast("timestamp")
            <= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_lines")),
        spark, sf_dir, "lineitem", "o_orderpriority",
    )


def q45_conditional_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates with a conditional inside one of
    them — compiles to one Expand (row replication per distinct group)
    + two-level aggregation, Spark's standard multi-distinct plan; no
    extra passes over the input.
    """
    l = load_table(spark, sf_dir, "lineitem")
    return final_sort(
        l.groupBy("l_returnflag")
        .agg(
            F.countDistinct(
                F.when(F.col("l_quantity") > 25, F.col("l_partkey"))
            ).alias("big_parts"),
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.count("*").alias("n"),
        ),
        spark, sf_dir, "lineitem", "l_returnflag",
    )


def q46_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, the sum of order totals within
    50k below the current order's price (value-based frame, not
    row-count-based). RANGE frames bound by the ORDER BY value are the
    windowed form of a self-band-join — one shuffle on the partition
    key instead of an inequality join.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 100 == 0
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-50000, Window.currentRow)
    )
    return final_sort(
        o.select(
            "o_custkey", "o_orderkey",
            decimal_round(F.sum("o_totalprice").over(w), 2, grid=2)
            .alias("nearby_sum"),
        ),
        spark, sf_dir, "orders", "o_custkey", "o_orderkey",
        row_preserving=True,
    )


def q47_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide metrics → long rows) via the DataFrame unpivot
    API — the inverse of q36's pivot. The melt happens AFTER the
    aggregation, so the exploded long form is |brands|·|metrics| rows,
    never a row-multiplied scan of the fact table.
    """
    p = load_table(spark, sf_dir, "part")
    wide = p.groupBy("p_brand").agg(
        F.avg("p_retailprice").alias("avg_price"),
        F.min("p_size").cast("double").alias("min_size"),
        F.max("p_size").cast("double").alias("max_size"),
    )
    return final_sort(
        wide.unpivot(
            ids=["p_brand"],
            values=["avg_price", "min_size", "max_size"],
            variableColumnName="metric",
            valueColumnName="raw_val",
        )
        .select(
            "p_brand", "metric",
            decimal_round(F.col("raw_val"), 4, grid=6).alias("val"),
        ),
        spark, sf_dir, "part", "p_brand", "metric",
    )


def q48_trailing_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe trailing feature: per user, the average of the
    PREVIOUS 1–3 event values (rows between 3 preceding and 1
    preceding — the current row is excluded, so the feature never sees
    its own label). The standard windowed feature-engineering shape
    for training-data pipelines; one shuffle on the entity key.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 200 == 7
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, -1)
    )
    return final_sort(
        ev.select(
            "event_id", "user_id",
            decimal_round(F.avg("value").over(w), 4, grid=6)
            .alias("past_avg"),
        ),
        spark, sf_dir, "events", "user_id", "event_id",
        row_preserving=True,
    )


def q49_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra over grouped collections: per-nation supplier
    bucket sets, pairwise intersection sizes. collect_set → sorted
    array keeps the agg one shuffle; the pairwise comparison joins the
    25-row per-nation aggregate with itself (broadcast, n<m keeps each
    unordered pair once).
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per_nation = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sort_array(
                F.collect_set(F.col("s_suppkey") % 10)
            ).alias("buckets")
        )
    )
    a = per_nation.select(
        F.col("n_name").alias("na"), F.col("buckets").alias("ba"))
    b = per_nation.select(
        F.col("n_name").alias("nb"), F.col("buckets").alias("bb"))
    return (
        a.join(F.broadcast(b), F.col("na") < F.col("nb"))
        .select(
            "na", "nb",
            F.size(F.array_intersect("ba", "bb")).cast("long")
            .alias("n_common"),
        )
        .orderBy("na", "nb")
        .limit(20)
    )


def q50_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (densification): daily purchase counts
    with missing days filled as 0. The dense calendar is
    sequence(min_day, max_day) exploded from a 1-row aggregate —
    generated, never scanned — then left-joined onto the sparse daily
    aggregate. At 100 TB the dense dimension is still only one row per
    day; the join broadcasts it.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        # stay timestamp-typed end-to-end: date columns round-trip as
        # Python objects through Arrow, timestamps stay datetime64
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").alias("cnt"))
    )
    calendar = (
        daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 day"))
            ).alias("d")
        )
    )
    return final_sort(
        calendar.join(daily, "d", "left")
        .select("d", F.coalesce("cnt", F.lit(0)).cast("long").alias("n")),
        spark, sf_dir, "events", "d",
    )


def q51_stat_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: Pearson correlation, sample stddev and
    sample covariance per group — single hash agg, all three moments
    accumulated in one pass (Spark's declarative agg merges partial
    moment sketches map-side). Snapped to the 1e-8 decimal grid before
    the 6-dp round: both engines' merge-order noise is orders of
    magnitude below the grid step.
    """
    l = load_table(spark, sf_dir, "lineitem")
    return final_sort(
        l.groupBy("l_returnflag")
        .agg(
            decimal_round(
                F.corr("l_quantity", "l_extendedprice"), 6, grid=8
            ).alias("qty_price_corr"),
            decimal_round(F.stddev_samp("l_quantity"), 6, grid=8)
            .alias("qty_sd"),
            decimal_round(
                F.covar_samp("l_quantity", "l_discount"), 6, grid=8
            ).alias("qty_disc_cov"),
        ),
        spark, sf_dir, "lineitem", "l_returnflag",
    )


def q52_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (10 buckets over the observed range). The
    (min, max) bounds are a 1-row aggregate broadcast onto the scan —
    the bucket arithmetic `least(floor((v-lo)/step), 9)` is identical
    IEEE double ops on both engines, so bucket edges agree exactly.
    Two passes over the data, both map-side-combining aggs.
    """
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    return final_sort(
        o.join(F.broadcast(bounds))
        .select(
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 10.0)
                ).cast("long"),
                F.lit(9).cast("long"),
            ).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            decimal_round(F.min("o_totalprice"), 2, grid=2)
            .alias("bucket_min"),
        ),
        spark, sf_dir, "orders", "bucket",
    )


def q53_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions over the embedding column: per label, the
    average max component and average count of positive components.
    array_max / filter(x -> x > 0) run inside codegen on the JVM — the
    arrays never cross into Python (SURVEY §2's no-UDF rule holds even
    for vector columns).
    """
    e = load_table(spark, sf_dir, "embeddings")
    return final_sort(
        e.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            decimal_round(F.avg(F.array_max("embedding")), 6, grid=8)
            .alias("avg_max_comp"),
            decimal_round(
                F.avg(F.size(F.filter("embedding", lambda x: x > 0))),
                4, grid=6,
            ).alias("avg_n_pos"),
        ),
        spark, sf_dir, "embeddings", "label",
    )


def q54_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-row-per-key dedup — the standard ingestion compaction
    (CDC upserts, re-crawled documents): one row_number window over
    (key, recency desc) keeps the newest event per user. One shuffle on
    the key; at 100 TB the same window runs per partition after a
    keyed repartition, and skewed users split under AQE.
    event_id breaks ts ties (fixture timestamps can collide per user).
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return final_sort(
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type"),
        spark, sf_dir, "events", "user_id",
        row_preserving=True,
    )


def q55_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of retail price within brand (sampled
    partkeys). Both engines define percent_rank = (rank-1)/(n-1) and
    cume_dist = rank''/n identically; the 1e-8 grid snap removes any
    division-noise risk before the 6-dp round. One window shuffle.
    """
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_partkey") % 20 == 0
    )
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return final_sort(
        p.select(
            "p_partkey", "p_brand",
            decimal_round(F.percent_rank().over(w), 6, grid=8).alias("pr"),
            decimal_round(F.cume_dist().over(w), 6, grid=8).alias("cd"),
        ),
        spark, sf_dir, "part", "p_partkey",
        row_preserving=True,
    )


def q56_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average discount per returnflag — the
    weighted-mean shape every curation pipeline needs (quality-score
    weighting, token-count weighting). Single hash agg; the ratio of
    the two exact-decimal sums is snapped to the 1e-8 grid before the
    6-dp round so both engines round the identical double.
    """
    l = load_table(spark, sf_dir, "lineitem")
    num = F.sum(
        (F.col("l_discount") * F.col("l_quantity")).cast("decimal(28,6)")
    ).cast("double")
    den = F.sum(F.col("l_quantity").cast("decimal(28,2)")).cast("double")
    return final_sort(
        l.groupBy("l_returnflag")
        .agg(decimal_round(num / den, 6, grid=8).alias("wavg_disc"),
             F.count("*").alias("n")),
        spark, sf_dir, "lineitem", "l_returnflag",
    )


def q57_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent order priority per order status with a
    deterministic tie-break (count desc, then priority asc) — written
    as count-agg + row_number window on BOTH engines rather than
    mode()/arg_max (whose tie rules are implementation-defined).
    Two shuffles: the (status, priority) count and the tiny window.
    """
    o = load_table(spark, sf_dir, "orders")
    counts = (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), "o_orderpriority"
    )
    return final_sort(
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus",
                F.col("o_orderpriority").alias("top_priority"), "n"),
        spark, sf_dir, "orders", "o_orderstatus",
    )


def q58_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 word bigrams over the corpus — the n-gram statistic under
    contamination checks and repetition filters. The bigram list is
    built inside codegen (transform over the token array with its
    index; no posexplode self-join, no Python): explode is a flatMap,
    then ONE shuffle for the count with Zipf-friendly map-side combine.
    """
    d = load_table(spark, sf_dir, "documents")
    # stage the split once, then zip the token array with its own
    # 1-shifted slice — the r5 transform-with-index re-evaluated
    # split(lower(text)) inside the lambda per element
    n1 = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("toks", 1, n1), F.slice("toks", 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select(F.split(F.lower("text"), " ").alias("toks"))
        .select(F.explode(bigrams).alias("bigram"))
        .filter(~F.col("bigram").rlike("^ | $|  "))
        .groupBy("bigram")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), "bigram")
        .limit(15)
    )


def q59_loo_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out mean: each order's price vs the average of the
    customer's OTHER orders — the leakage-safe target-encoding shape
    ((sum - x)/(n - 1), NULL for singletons). Window sum+count per
    customer (one shuffle), sampled customers bound the output.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 100 == 0
    )
    w = Window.partitionBy("o_custkey")
    loo = F.when(
        F.count("*").over(w) > 1,
        (F.sum("o_totalprice").over(w) - F.col("o_totalprice"))
        / (F.count("*").over(w) - 1),
    )
    return final_sort(
        o.select(
            "o_orderkey", "o_custkey",
            decimal_round(loo, 4, grid=6).alias("loo_avg"),
        ),
        spark, sf_dir, "orders", "o_orderkey",
        row_preserving=True,
    )


def q60_having_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brands with above-average brand revenue (TPC-H Q11 shape:
    scalar subquery inside HAVING). Decorrelated form: the per-brand
    aggregate is computed ONCE, its 1-row average broadcast-cross-
    joined back onto itself — the oracle keeps the nested-subquery
    spelling. Sums are exact decimal; the threshold comparison is the
    identical double division on both engines (margins are
    macroscopic, not boundary-dependent).
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    per_brand = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(rev).alias("brand_rev_d"), F.count("*").alias("n"))
    )
    # division-free above-average test: brand_rev · n_brands > total,
    # ALL in exact decimal/integer arithmetic — no double ever enters
    # the comparison, so no summation-order ulp can flip a brand that
    # sits exactly on the mean. The totals ride a whole-relation
    # window over the |brands|-row aggregate (q137 discipline) — the
    # previous separate-aggregate + broadcast-join branch re-executed
    # the lineitem⋈part lineage twice (r11).
    wall = Window.partitionBy()
    return final_sort(
        per_brand
        .withColumn("__total_d", F.sum("brand_rev_d").over(wall))
        .withColumn("__n_brands", F.count("*").over(wall))
        .filter(F.col("brand_rev_d") * F.col("__n_brands")
                > F.col("__total_d"))
        .select(
            "p_brand",
            F.round(F.col("brand_rev_d"), 2).cast("double").alias("brand_rev"),
            "n",
        ),
        spark, sf_dir, "lineitem", "p_brand",
    )


def q61_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most recent order DATES per priority with ties kept —
    rank() (gap semantics), not row_number: every order sharing a
    top-3 date qualifies, so the result needs no artificial tiebreak
    to be deterministic. One window shuffle over the sampled stream.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 200 == 0
    )
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_orderdate"))
    return final_sort(
        o.withColumn("rk", F.rank().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_orderdate", "rk"),
        spark, sf_dir, "orders", "o_orderpriority", "rk", "o_orderkey",
    )


def q62_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema'd JSON parsing: from_json with an explicit schema, then
    aggregation over the typed field — the 100-TB path for
    semi-structured columns (ONE parse per row into Tungsten struct;
    per-field get_json_object re-parses the string per extraction,
    q22's shape). Sum + conditional count per event type, one shuffle.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return final_sort(
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("k") > 50, F.lit(1))).alias("n_high"),
        ),
        spark, sf_dir, "events", "event_type",
    )




def q105_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile scores for Recency (latest order),
    Frequency (order count) and Monetary (total spend) per customer,
    then customer count + average spend per (r, f, m) segment.

    Cross-engine exactness: monetary sums in decimal(28,2) (exact, so
    the ntile ORDER BY sees identical keys on both engines), every
    ntile ORDER BY carries the o_custkey tiebreak (total order ->
    identical bucket assignment), and the per-segment average is ONE
    snapped division of a decimal sum by an integer count.

    Scale: the customer aggregate is dimension-sized (one row per
    customer with orders), so the three unpartitioned ntile windows run
    over a dim table, not the fact stream — that is the documented
    posture (global quantile scoring of a dimension). For fact-sized
    inputs use percent_rank banding (q55) or approx percentiles
    (operators/percentile.py) instead of exact global ntile.
    """
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("monetary"),
    )
    r = F.ntile(4).over(Window.orderBy(F.desc("last_order"), F.col("o_custkey")))
    f = F.ntile(4).over(Window.orderBy(F.desc("freq"), F.col("o_custkey")))
    m = F.ntile(4).over(Window.orderBy(F.desc("monetary"), F.col("o_custkey")))
    scored = cust.select(
        r.cast("long").alias("r_score"), f.cast("long").alias("f_score"),
        m.cast("long").alias("m_score"), "monetary",
    )
    seg = scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_cust"),
        decimal_round(
            F.sum("monetary").cast("double") / F.count("*").cast("double"),
            2, grid=10,
        ).alias("avg_monetary"),
    )
    return final_sort(seg, spark, sf_dir, "orders",
                      "r_score", "f_score", "m_score")


def cooccur_lift(lineitem: DataFrame, n_orders_df: DataFrame | None = None,
                 min_support: int = 3, k: int = 30,
                 hint=lambda df: df) -> DataFrame:
    """Market-basket association mining: top-k part pairs by lift.

    lift(a,b) = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b) over order
    baskets — the support/lift mining layer on top of the same
    co-occurrence structure the graph queries project (SURVEY §2.3),
    which those queries never expose as association scores.

    Scale (r11 rewrite, the q134 discipline): ONE groupBy(l_orderkey)
    folds each basket's distinct part set — co-located with
    lineitem's load partitioning (zero extra shuffle) and BOUNDED by
    basket width (~lines per order), so no skew risk; both the
    per-part order counts and the pair stream then explode from those
    tiny arrays map-side — the r5 plan's orderkey self-join (which
    branched the distinct three ways) is gone. The pair aggregation
    is the one wide shuffle; per-part order counts are
    part-keyspace-sized, so they are joined back through ``hint`` —
    the oracled wrapper passes the MEASURED size gate (broadcast
    under it, shuffle join past it; a bare F.broadcast would
    force-broadcast a scale-growing aggregate at 100 TB). The 1-row
    total is always broadcast. Top-k plans as TakeOrderedAndProject.

    Exactness: all counts are exact integers; lift is ONE division of
    exact long products (≤ 2^53, value-preserving in double) snapped on
    the decimal grid; (lift desc, a, b) is a total order.
    """
    baskets = lineitem.select("l_orderkey", "l_partkey").groupBy(
        "l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    if n_orders_df is None:
        # N = one row per basket — derived from the SAME exchange the
        # pair/count branches consume (a separate distinct-orderkey
        # scan re-read the fact table, r11)
        n_orders_df = baskets.agg(F.count("*").alias("n_orders"))
    n_a = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk").agg(F.count("*").alias("n_one"))
    )
    pair_arr = F.flatten(F.transform(
        "parts",
        lambda x: F.transform(
            F.filter("parts", lambda y: y > x),
            lambda y: F.struct(x.alias("a"), y.alias("b")),
        ),
    ))
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b").agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    na = hint(n_a.select(F.col("pk").alias("a"), F.col("n_one").alias("n_a")))
    nb = hint(n_a.select(F.col("pk").alias("b"), F.col("n_one").alias("n_b")))
    res = (
        pairs
        .join(na, "a")
        .join(nb, "b")
        .crossJoin(F.broadcast(n_orders_df))
        .select(
            "a", "b", "n_ab",
            decimal_round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6, grid=10,
            ).alias("lift"),
        )
    )
    return res.orderBy(F.desc("lift"), "a", "b").limit(k)


def q106_cooccur_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return cooccur_lift(
        l, hint=lambda df: broadcast_if_small(df, spark, sf_dir, "part"))


def q108_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap statistics per nation: day gaps between a
    customer's consecutive orders (lag window), aggregated to count /
    average / max per customer nation.

    Scale: the lag window partitions on o_custkey — orders' load
    partitioning already clusters on it, so the window needs no
    exchange; customer joins through the MEASURED size gate (it grows
    with the data — broadcast under the gate, shuffle join past it),
    nation is a bounded dim (25 rows, safe hint); the final aggregate
    is nation-sized. Day diffs are exact ints
    (date-truncated on both engines); the average is ONE snapped
    division.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev", F.lag("o_orderdate").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "o_custkey",
            F.datediff(F.to_date("o_orderdate"), F.to_date("prev"))
            .cast("long").alias("gap_days"),
        )
    )
    res = (
        gaps.join(broadcast_if_small(c, spark, sf_dir, "customer"),
                  gaps.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_gaps"),
            decimal_round(
                F.sum("gap_days").cast("double") / F.count("*").cast("double"),
                4, grid=10,
            ).alias("avg_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
    )
    return final_sort(res, spark, sf_dir, "orders", "n_name")


def cohort_ltv(orders: DataFrame) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, then per (cohort_month, months-since-cohort) the active
    customer count, period revenue, and cumulative revenue per cohort
    customer — the retention-revenue curve every subscription /
    marketplace analysis starts from (the revenue-weighted sibling of
    q88's activity retention).

    Cross-engine exactness: the month offset is pure integer calendar
    arithmetic ((Δyear)·12 + Δmonth on date_trunc'd months — identical
    in both engines, no months_between float), revenue sums are exact
    decimal(28,2), and the per-customer LTV rounds in EXACT INTEGER
    space: with U = cumulative cents (exact long) and n = cohort size,
    round-half-up(U/n) = (2U + n) div (2n) — no double→decimal cast
    anywhere near a half boundary (small cohorts make exact .xx5
    quotients COMMON here, and the grid-snap pattern measurably
    flipped 4 rows at sf0.01 before this form). The final
    cents→dollars division is an exact-integer double divided by
    100.0, correctly rounded identically in both engines. Bound: the
    intermediate 2U+n stays a valid long below ~4.6e16 in cumulative
    cohort revenue cents — far past 100-TB fact scale for a per-cohort
    cumulative; past it, lift the same formula into decimal `div`.

    Scale: the first-order min-agg and the cohort join both key on
    o_custkey — orders' load partitioning already clusters on it, so
    neither needs an exchange; the (cohort, offset) aggregate
    partial-aggregates map-side down to months² rows, and the LTV
    window runs over that tiny relation. ONE real shuffle total.
    """
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    sizes = first.groupBy("cohort").agg(F.count("*").alias("n_cohort"))
    om = F.date_trunc("month", F.col("o_orderdate"))
    joined = orders.join(first, "o_custkey").select(
        "cohort", "o_custkey",
        ((F.year(om) - F.year("cohort")) * 12
         + (F.month(om) - F.month("cohort"))).cast("long").alias("month_offset"),
        F.col("o_totalprice").cast("decimal(28,2)").alias("p"),
    )
    agg = joined.groupBy("cohort", "month_offset").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("p").alias("rev"),
    )
    wcum = (
        Window.partitionBy("cohort").orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        agg.join(sizes, "cohort")
        .select(
            "cohort", "month_offset", "n_active",
            F.col("rev").cast("double").alias("revenue"),
            (F.sum("rev").over(wcum) * 100).cast("long").alias("cum_cents"),
            F.col("n_cohort").cast("long").alias("n_cohort"),
        )
    )
    return cum.select(
        "cohort", "month_offset", "n_active", "revenue",
        (F.expr("(2 * cum_cents + n_cohort) div (2 * n_cohort)")
         .cast("double") / F.lit(100.0)).alias("ltv_per_cust"),
    )


def q109_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = cohort_ltv(load_table(spark, sf_dir, "orders"))
    return final_sort(res, spark, sf_dir, "orders", "cohort", "month_offset")


def snapshot_diff(old: DataFrame, new: DataFrame,
                  key_cols: list[str],
                  compare_cols: list[str]) -> DataFrame:
    """SCD2-style change-data capture between two keyed snapshots:
    per key, classify 'added' (new only), 'removed' (old only),
    'changed' (any compare column differs, null-safely) or
    'unchanged', carrying both versions' compare columns as
    old_*/new_*. The incremental-build primitive every warehouse
    pipeline runs between loads.

    Scale: ONE co-partitioned full-outer shuffle join on the key
    (both sides hash on key_cols); the column compare is a codegen
    boolean over the joined row — no second pass, no collect. At
    100 TB this is the standard keyed-merge shape; pre-bucketed
    layouts (sources/registry.write_partitioned bucket_by) make it
    shuffle-free.
    """
    if not key_cols or not compare_cols:
        raise ValueError("need at least one key column and one compare column")
    o = old.select(
        *key_cols, *[F.col(c).alias(f"old_{c}") for c in compare_cols]
    ).withColumn("_in_old", F.lit(1))
    n = new.select(
        *key_cols, *[F.col(c).alias(f"new_{c}") for c in compare_cols]
    ).withColumn("_in_new", F.lit(1))
    j = o.join(n, key_cols, "full_outer")
    differs = None
    for c in compare_cols:
        d = ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        differs = d if differs is None else (differs | d)
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *key_cols, change.alias("change"),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )


def q113_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two yearly per-customer order profiles (1997 vs
    1998): which customers appeared, disappeared, or changed volume —
    `snapshot_diff` bound to the fixture the way a warehouse diffs
    consecutive loads.

    Exactness: counts are exact integers, totals exact decimal(28,2)
    compared IN DECIMAL (the null-safe compare sees exact values; the
    double cast happens only at emission); 'unchanged' rows are
    filtered so every emitted row is a real change record.

    Scale: both snapshot aggregates ride orders' o_custkey load
    clustering, so the full-outer join is co-partitioned — the
    aggregate+join pipeline is ONE exchange end-to-end.
    """
    o = load_table(spark, sf_dir, "orders")

    def profile(year: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            )
            .groupBy("o_custkey")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
                .alias("total"),
            )
        )

    d = snapshot_diff(profile(1997), profile(1998),
                      ["o_custkey"], ["n_orders", "total"])
    res = d.filter(F.col("change") != "unchanged").select(
        "o_custkey", "change",
        F.col("old_n_orders").alias("n_old"),
        F.col("new_n_orders").alias("n_new"),
        F.col("old_total").cast("double").alias("tot_old"),
        F.col("new_total").cast("double").alias("tot_new"),
    )
    return final_sort(res, spark, sf_dir, "orders", "change", "o_custkey")


def q119_decile_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains table (model-evaluation / campaign-targeting
    report): customers scored by total spend, cut into spend deciles,
    each decile's revenue share and cumulative share — the lift chart
    behind "the top decile drives X% of revenue".

    Exactness: spend sums are exact decimal(28,2); the ntile ORDER BY
    (spend desc, custkey) is a total order over exact decimal keys, so
    bucket assignment is identical cross-engine; both shares are
    snapped single divisions of exact decimals.

    Scale: the per-customer aggregate rides orders' o_custkey load
    clustering (ONE real shuffle); the global ntile runs over the
    dimension-sized customer aggregate (q105's documented posture —
    fact-sized inputs use q55 percent_rank banding / approx
    percentiles instead); the decile rollup is 10 rows, so its
    cumulative window and the 1-row total broadcast are negligible.
    """
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("spend_d"))
    w = Window.orderBy(F.desc("spend_d"), "o_custkey")
    dec = cust.withColumn("decile", F.ntile(10).over(w).cast("long"))
    per = dec.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("spend_d").alias("dec_rev_d"))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    res = (
        # total rides a whole-relation window over the 10-row decile
        # aggregate (q60/q137 discipline) — the separate aggregate +
        # cross-join branch re-executed the ntile lineage twice (r11)
        per.withColumn("cum_rev_d", F.sum("dec_rev_d").over(wc))
        .withColumn("total_d",
                    F.sum("dec_rev_d").over(Window.partitionBy()))
        .select(
            "decile", "n_customers",
            F.round(F.col("dec_rev_d"), 2).cast("double").alias("decile_rev"),
            decimal_round(
                F.col("dec_rev_d").cast("double")
                / F.col("total_d").cast("double"), 6, grid=10,
            ).alias("rev_share"),
            decimal_round(
                F.col("cum_rev_d").cast("double")
                / F.col("total_d").cast("double"), 6, grid=10,
            ).alias("cum_share"),
        )
    )
    return final_sort(res, spark, sf_dir, "orders", "decile")


def q121_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series diagnostics: autocorrelation (Pearson ACF) of the
    daily order-revenue series at lags 1–7 — the seasonality probe run
    before fitting any forecast.

    Cross-engine exactness: the daily series is an exact decimal(18,2)
    sum; every moment (Σx, Σy, Σxy, Σx², Σy²) is converted to double
    ONCE, and the Pearson formula is then evaluated in doubles with the
    IDENTICAL expression tree on both engines — each step an IEEE op on
    identical inputs, so the result is bit-identical before the
    cosmetic snap. (Summing the moments in decimal first avoids the
    summation-order problem entirely; mixing decimal×bigint inside the
    formula instead would hit the engines' different precision-clamping
    rules, which is why the formula runs in doubles.)

    Scale: one fact-wide day aggregate (the only real shuffle); the
    series itself is calendar-sized (~2.4k rows), so the ORDERED lead
    window and the 7-lag explode run on a dimension-scale relation —
    the documented global-window posture (q105). The lags unpivot via
    one map-side stack; per-lag moments partial-aggregate to 7 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .alias("rev"))
    )
    w = Window.orderBy("day")
    lead_cols = [F.lead("rev", k).over(w).alias(f"__l{k}")
                 for k in range(1, 8)]
    pairs = daily.select("rev", *lead_cols).select(
        F.expr("stack(7, " + ", ".join(
            f"{k}, rev, __l{k}" for k in range(1, 8)
        ) + ") as (lag, x, y)")
    ).filter(F.col("y").isNotNull())
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    acf = (
        (n * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
           * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy")))
    )
    res = mom.select(
        F.col("lag").cast("long").alias("lag"), "n_pairs",
        decimal_round(acf, 6, grid=10).alias("acf"),
    )
    return final_sort(res, spark, sf_dir, "orders", "lag")


def weighted_median(df: DataFrame, value_col: str, weight_col: str,
                    *group_cols: str,
                    collect_small: bool = True,
                    n_estimate: int | None = None,
                    n_buckets: int = 1024,
                    band_target: int = 100_000) -> DataFrame:
    """Per-group weighted median (upper/"whichever value first
    accumulates half the total weight" variant): the smallest value v
    such that the summed weight of rows with value ≤ v reaches half
    the group's total weight — robust central tendency where every row
    carries a size (quantity, duration, spend).

    Exactness: weights sum in decimal (order-immune), the half-total
    test is ``2·cum ≥ total`` in decimal (no division, no FP), and
    ties all land in the same cumulative value (RANGE frame on the
    window path; equal-value runs cross at the same value on the
    collect path), so the crossing value is independent of tie order
    on both engines.

    Size-gated dual (the q17/q136 discipline — callers own the gate):

    - ``collect_small=True`` (measured-small input): ONE scan, ONE
      map-side-combining aggregation collecting each group's sorted
      (value, weight) pairs, with the total and the crossing value
      found by array folds — no window, no per-group sort task (a
      3-value group key serializes the window sort into 3 tasks; the
      q136 lesson, measured 0.47 s → ~0.15 s at sf0.1). Per-group
      buffer is O(group size): callers MUST gate on measured bytes.
    - ``collect_small=False, n_estimate=<rows>``: the size-invariant
      HISTOGRAM-REFINE plan (r11, closing the gap this docstring used
      to admit): each round scans once, buckets the in-bracket values
      into ``n_buckets`` per-group value bins keyed by the group's
      own [lo, hi] (joined as a broadcast |groups|-row relation),
      folds the K-row per-group histograms to locate the bucket where
      the cumulative weight crosses half the total, and tightens the
      bracket to that bucket's MEASURED min/max (exact, no FP
      boundary arithmetic — a one-distinct-value bucket terminates
      immediately since the crossing value IS that value). Rounds =
      ceil(log_K(n/band_target)) from the metadata row estimate; the
      final pass collects the ≤ ~band_target in-bracket (value,
      weight) pairs and finishes with the SAME exact decimal fold as
      the collect path, seeded with the bracket's below-weight.
      Ties and concentration are handled by the min==max early-out,
      not assumed away.
    - ``collect_small=False, n_estimate=None``: the window plan — ONE
      exchange on the group key shared by both windows and the final
      aggregate; state per row is O(1). Measured decision (sf1, 6M
      rows, 3 groups): the pre-collapse variant — groupBy (group,
      value) weight sums first, window over the distinct-value
      relation — ran 11.9–19.2 s vs 8.1–10.6 s for this direct
      window, because values here are ~89% distinct so the extra
      exchange buys no shrink. Low-cardinality group keys serialize
      this window into one task per group at extreme scale — past
      the gate prefer the histogram plan above.

    All paths are property-tested equal (test_round11_operators.py).
    """
    if collect_small:
        return _weighted_median_collect(
            df, value_col, weight_col, *group_cols)
    if n_estimate is not None:
        return _weighted_median_histogram(
            df, value_col, weight_col, *group_cols,
            n_estimate=n_estimate, n_buckets=n_buckets,
            band_target=band_target)
    wd = F.col("__w")
    cum = F.sum(wd).over(
        Window.partitionBy(*group_cols).orderBy(value_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = F.sum(wd).over(Window.partitionBy(*group_cols))
    scored = (
        df.select(*group_cols, value_col,
                  F.col(weight_col).cast("decimal(18,2)").alias("__w"))
        .withColumn("__cum", cum)
        .withColumn("__tot", tot)
    )
    return (
        scored.filter(F.lit(2) * F.col("__cum") >= F.col("__tot"))
        .groupBy(*group_cols)
        .agg(
            F.min(value_col).alias("w_median"),
            F.min(F.col("__tot")).cast("double").alias("total_weight"),
        )
    )


_DEC_W = "decimal(38,2)"


def _weighted_median_histogram(df: DataFrame, value_col: str,
                               weight_col: str, *group_cols: str,
                               n_estimate: int, n_buckets: int,
                               band_target: int) -> DataFrame:
    """Size-invariant path of ``weighted_median`` (see its docstring):
    per-round per-group value histograms tighten a [lo, hi] bracket
    around the weighted-median crossing; the final pass collects only
    the bounded in-bracket pairs and finishes with the exact decimal
    fold, seeded with the bracket's accumulated below-weight.

    Round-count assumption (ADVICE r11): ``rounds`` is sized from
    ``ceil(log_nbuckets(n_estimate / band_target))``, which assumes
    each VALUE-domain bisection shrinks the in-bracket ROW count
    ~n_buckets-fold — i.e. rows are roughly uniform across the value
    range. A distribution with many distinct values packed into a
    narrow slice of the range shrinks the bracket WIDTH geometrically
    but sheds rows slower, so the final collect can exceed
    band_target. One extra safety round is added whenever any
    refinement runs (an extra bounded scan, cheap relative to the
    base passes); one-value buckets still early-out (lo==hi groups
    skip further scans), and a still-oversized final collect degrades
    to a larger — but correct — per-group array, never a wrong
    answer. Keeping the loop static (no per-round driver action on
    measured in-bracket counts) preserves the repo's pure-lazy
    operator discipline; callers with known pathological value
    concentration can raise ``n_estimate`` to buy more rounds."""
    import math

    if len(group_cols) != 1:
        raise ValueError(
            "histogram path supports exactly one group column (join "
            "the composite key into one column upstream)")
    g = group_cols[0]
    base = df.select(
        F.col(g).alias("grp"), F.col(value_col).alias("v"),
        F.col(weight_col).cast("decimal(18,2)").alias("w"),
    )
    rounds = max(0, math.ceil(
        math.log(max(n_estimate, 1) / band_target, n_buckets)))
    if rounds > 0:  # safety round against value-concentrated data
        rounds += 1
    bounds = base.groupBy("grp").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"),
        F.sum("w").cast(_DEC_W).alias("tot"),
        F.lit(0).cast(_DEC_W).alias("wb"),
    )
    for _ in range(rounds):
        b = F.broadcast(bounds.withColumnRenamed("grp", "b_g"))
        width = (F.col("hi") - F.col("lo")) / F.lit(float(n_buckets))
        bucket = F.least(
            F.lit(n_buckets - 1),
            F.floor((F.col("v") - F.col("lo")) / width).cast("int"),
        )
        hist = (
            base.join(b, F.col("grp") == F.col("b_g"))
            # done groups (bracket collapsed to one value) skip the
            # scan's aggregation entirely
            .filter((F.col("lo") < F.col("hi"))
                    & (F.col("v") >= F.col("lo"))
                    & (F.col("v") <= F.col("hi")))
            .groupBy("grp", bucket.alias("bk"))
            .agg(F.sum("w").cast(_DEC_W).alias("bw"),
                 F.min("v").alias("bmin"), F.max("v").alias("bmax"),
                 F.first("tot").alias("tot"), F.first("wb").alias("wb"),
                 F.first("lo").alias("p_lo"), F.first("hi").alias("p_hi"))
            .groupBy("grp")
            .agg(F.sort_array(F.collect_list(F.struct(
                     F.col("bk"), F.col("bw"),
                     F.col("bmin"), F.col("bmax")))).alias("bks"),
                 F.first("tot").alias("tot"), F.first("wb").alias("wb"))
        )
        # walk buckets in order; the first whose cumulative weight
        # crosses half the total is the new bracket
        pick = F.aggregate(
            "bks",
            F.struct(
                F.lit(0).cast(_DEC_W).alias("cum"),
                F.lit(None).cast("double").alias("nlo"),
                F.lit(None).cast("double").alias("nhi"),
                F.lit(0).cast(_DEC_W).alias("nwb"),
            ),
            lambda a, x: F.struct(
                (a["cum"] + x["bw"]).cast(_DEC_W).alias("cum"),
                F.coalesce(a["nlo"], F.when(
                    F.lit(2) * (F.col("wb") + a["cum"] + x["bw"])
                    >= F.col("tot"), x["bmin"])).alias("nlo"),
                F.coalesce(a["nhi"], F.when(
                    F.lit(2) * (F.col("wb") + a["cum"] + x["bw"])
                    >= F.col("tot"), x["bmax"])).alias("nhi"),
                F.when(a["nlo"].isNull() & (
                    F.lit(2) * (F.col("wb") + a["cum"] + x["bw"])
                    < F.col("tot")),
                    (a["nwb"] + x["bw"]).cast(_DEC_W))
                .otherwise(a["nwb"]).alias("nwb"),
            ),
        )
        refined = hist.select(
            "grp", pick.alias("p"), "tot", "wb",
        ).select(
            "grp", F.col("p.nlo").alias("lo"), F.col("p.nhi").alias("hi"),
            "tot", (F.col("wb") + F.col("p.nwb")).cast(_DEC_W).alias("wb"),
        )
        # groups already collapsed (lo == hi) were filtered out of the
        # histogram — carry their bounds forward unchanged
        done = bounds.filter(F.col("lo") >= F.col("hi"))
        bounds = refined.unionByName(done)
    b = F.broadcast(bounds.withColumnRenamed("grp", "b_g"))
    final = (
        base.join(b, F.col("grp") == F.col("b_g"))
        .groupBy("grp")
        .agg(
            F.sort_array(F.collect_list(F.when(
                (F.col("lo") < F.col("hi"))
                & (F.col("v") >= F.col("lo"))
                & (F.col("v") <= F.col("hi")),
                F.struct(F.col("v"), F.col("w"))))).alias("__pairs"),
            F.first("lo").alias("lo"), F.first("hi").alias("hi"),
            F.first("tot").alias("__tot"), F.first("wb").alias("wb"),
        )
    )
    crossing = F.aggregate(
        "__pairs",
        F.struct(F.col("wb").alias("cum"),
                 F.lit(None).cast("double").alias("med")),
        lambda a, x: F.struct(
            (a["cum"] + x["w"]).cast(_DEC_W).alias("cum"),
            F.coalesce(
                a["med"],
                F.when(F.lit(2) * (a["cum"] + x["w"]) >= F.col("__tot"),
                       x["v"]),
            ).alias("med"),
        ),
        lambda a: a["med"],
    )
    return final.select(
        "grp",
        F.when(F.col("lo") >= F.col("hi"), F.col("lo"))
        .otherwise(crossing).alias("w_median"),
        F.col("__tot").cast("double").alias("total_weight"),
    ).withColumnRenamed("grp", g)


def _weighted_median_collect(df: DataFrame, value_col: str,
                             weight_col: str,
                             *group_cols: str) -> DataFrame:
    """Measured-small path of ``weighted_median``: one aggregation,
    crossing found by an exact decimal fold over the sorted pairs."""
    cum_t = "decimal(38,2)"
    agg = df.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list(F.struct(
            F.col(value_col).alias("v"),
            F.col(weight_col).cast("decimal(18,2)").alias("w"),
        ))).alias("__pairs"),
    )
    tot = F.aggregate(
        "__pairs", F.lit(0).cast(cum_t),
        lambda a, x: (a + x["w"]).cast(cum_t),
    )
    agg = agg.withColumn("__tot", tot)
    # fold state: (cum weight so far, first crossing value or null);
    # ties share the crossing value, so intra-tie weight order is
    # irrelevant — same invariance the window path gets from the
    # RANGE frame.
    crossing = F.aggregate(
        "__pairs",
        F.struct(F.lit(0).cast(cum_t).alias("cum"),
                 F.lit(None).cast("double").alias("med")),
        lambda a, x: F.struct(
            (a["cum"] + x["w"]).cast(cum_t).alias("cum"),
            F.coalesce(
                a["med"],
                F.when(F.lit(2) * (a["cum"] + x["w"]) >= F.col("__tot"),
                       x["v"]),
            ).alias("med"),
        ),
        lambda a: a["med"],
    )
    return agg.select(
        *group_cols,
        crossing.alias("w_median"),
        F.col("__tot").cast("double").alias("total_weight"),
    )


def q122_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag (see
    ``weighted_median``; size-gated dual, the q17/q136 discipline:
    collect under 32 MiB, histogram-refine past it — no per-group
    sort at any size), with the group row count alongside."""
    from puregraphdb_spark.operators.percentile import estimate_rows
    from puregraphdb_spark.sources.registry import table_bytes

    li = load_table(spark, sf_dir, "lineitem")
    small = table_bytes(spark, sf_dir, "lineitem") < (32 << 20)
    med = weighted_median(
        li, "l_extendedprice", "l_quantity", "l_returnflag",
        collect_small=small,
        n_estimate=(None if small
                    else estimate_rows(spark, sf_dir, "lineitem")),
    )
    counts = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_rows")
    )
    res = med.join(counts, "l_returnflag").select(
        "l_returnflag", "n_rows", "w_median", "total_weight"
    )
    return final_sort(res, spark, sf_dir, "lineitem", "l_returnflag")


def q127_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join ("what happened next"): for each click
    event, the user's NEXT purchase at-or-after it — q31's mirror
    image through the same one-shuffle union-window plan
    (``as_of_join(direction='forward')``). The purchase side is
    pre-deduped per (user, ts) with min(value) — the operator's
    documented tie discipline — so the attached row is unique and the
    raw double passes through both engines untouched (no arithmetic,
    no snap needed).
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("value").alias("value"))
    )
    joined = as_of_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["ts", "value"], prefix="next_", direction="forward",
    )
    return final_sort(
        joined.filter(F.col("next_ts").isNotNull()).select(
            "event_id", "user_id", "ts", "next_ts",
            F.col("next_value").alias("next_val"),
        ),
        spark, sf_dir, "events", "event_id",
    )


def gini_concentration(orders: DataFrame, key_col: str = "o_custkey",
                       amount_col: str = "o_totalprice") -> DataFrame:
    """Revenue-concentration report: Gini coefficient of per-key spend
    plus the top-decile revenue share (the "top 10% drive X%" Pareto
    number) — the inequality diagnostics run before tiering customers.

    Exactness: spend is an exact decimal sum; with keys ranked by
    (spend, key) the Gini numerator 2·Σ(rank·spendᵢ) − (n+1)·Σspend is
    PURE decimal/bigint arithmetic, so gini and the decile share are
    each ONE snapped IEEE division of exact quantities — no FP
    accumulation anywhere.

    Scale: one fact aggregate to per-key spend; the rank is a global
    window over the KEY-scale relation (the q105 dimension posture —
    at fact-scale keys swap in the q92 two-pass rank); the 1-row
    totals broadcast back (parameter traffic, the pagerank allowance).

    Edge cases (consistent on both engines by construction): with
    n < 10 keys the top decile is empty → ``top_decile_share`` is
    NULL (no rank exceeds n − n//10); an empty input returns one
    all-NULL row (global aggregate over zero rows).
    """
    spend = orders.groupBy(key_col).agg(
        F.sum(F.col(amount_col).cast("decimal(18,2)")).alias("__sp")
    )
    # the global rank window already single-partitions this relation;
    # the count/sum totals ride the same window for free — the
    # separate aggregate + cross-join re-executed the spend lineage
    # twice (r11)
    wall = Window.orderBy("__sp", key_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = spend.select(
        "__sp",
        F.row_number().over(Window.orderBy("__sp", key_col)).alias("__rk"),
        F.count("*").over(wall).cast("long").alias("__n"),
        F.sum("__sp").over(wall).alias("__s0"),
    )
    n = F.col("__n")
    stats = ranked.agg(
        F.min("__n").alias("n_keys"),
        F.min("__s0").alias("__s0_min"),
        F.sum(F.col("__rk") * F.col("__sp")).alias("__s1"),
        F.sum(
            F.when(F.col("__rk") > n - F.floor(n / 10), F.col("__sp"))
        ).alias("__top"),
    )
    s0 = F.col("__s0_min").cast("double")
    gini = (
        (F.lit(2) * F.col("__s1")
         - (F.col("n_keys") + F.lit(1)) * F.col("__s0_min")).cast("double")
        / (F.col("n_keys").cast("double") * s0)
    )
    return stats.select(
        "n_keys",
        decimal_round(gini, 6, grid=10).alias("gini"),
        decimal_round(F.col("__top").cast("double") / s0, 6, grid=10)
        .alias("top_decile_share"),
    )


def q128_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend inequality: Gini + top-decile share (see
    ``gini_concentration``)."""
    return gini_concentration(load_table(spark, sf_dir, "orders"))


def hhi_concentration(df: DataFrame, group_col: str, key_col: str,
                      amount_col) -> DataFrame:
    """Per-group Herfindahl-Hirschman index: Σ shareᵢ² of per-key
    amounts — the market-concentration scan (1/n for perfectly even,
    1.0 for a monopoly key). Same transcendental-free discipline as
    the Simpson index (q126): Σxᵢ² and (Σxᵢ)² stay exact decimal, so
    the index is ONE snapped IEEE division.

    Scale: one (group, key) aggregate with map-side combine, then a
    group rollup of squares — two small exchanges, nothing global.
    """
    per_key = df.groupBy(group_col, key_col).agg(
        F.sum(amount_col.cast("decimal(18,2)")).alias("__x")
    )
    agg = per_key.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sq"),
        F.sum("__x").alias("__s"),
    )
    return agg.select(
        group_col, "n_keys",
        decimal_round(
            F.col("__sq").cast("double")
            / (F.col("__s").cast("double") * F.col("__s").cast("double")),
            6, grid=10,
        ).alias("hhi"),
    )


def q129_hhi_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment: HHI over customer
    revenue shares within each segment (see ``hhi_concentration``)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    res = hhi_concentration(
        joined, "c_mktsegment", "o_custkey", F.col("o_totalprice")
    )
    return final_sort(res, spark, sf_dir, "orders", "c_mktsegment")


def approx_quantiles_profile(df: DataFrame, value_col: str,
                             group_col: str,
                             ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
                             accuracy: int = 1000) -> DataFrame:
    """Per-group approximate quantiles via Spark's mergeable
    percentile_approx sketch (Greenwald-Khanna family) — the quantile
    path that SCALES: one map-side sketch per partition merged in the
    partial aggregate, rank error ≤ n/accuracy guaranteed, no sort,
    no window, no per-group serialization (contrast the exact q105
    global-ntile posture and operators/percentile.py's exact
    refinement, both of which pay ordering costs).

    Rows-only by design: DuckDB's approx_quantile is a t-digest —
    different sketch, different (legitimate) answers. The rank-error
    contract is pinned against EXACT ranks in
    tests/test_session5_operators.py instead.
    """
    aggs = [F.count("*").cast("long").alias("n")] + [
        F.percentile_approx(value_col, p, accuracy)
        .alias(f"p{int(p * 100):02d}")
        for p in ps
    ]
    return df.groupBy(group_col).agg(*aggs)


def approx_quantiles_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate price quantiles per return flag (rows-only sketch
    entry — see ``approx_quantiles_profile``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return approx_quantiles_profile(
        li, "l_extendedprice", "l_returnflag"
    ).orderBy("l_returnflag")


def chi_square_contingency(df: DataFrame, row_col: str,
                           col_col: str) -> DataFrame:
    """Chi-square test of independence over a contingency table of two
    categorical columns: n, degrees of freedom, the X² statistic and
    Cramér's V — the "are these two dimensions related" screen run
    before any segmentation claim.

    Exactness: observed counts and marginals are exact bigints, so
    every expected value e = r·c/n and every term (o−e)²/e is IEEE
    arithmetic on identical inputs (bit-identical per cell on both
    engines); per-cell terms snap to a decimal(28,12) grid and SUM IN
    DECIMAL (order-immune — the q121 discipline for sums of identical
    doubles), then X² and V are snapped once. No transcendentals
    (sqrt is IEEE-exact).

    Scale: one shuffle to the contingency cells (map-side combine
    collapses the fact table), then three window sums + the rollup on
    the CELL relation (|categories|² rows — tiny by definition; a
    high-cardinality "category" is a modeling error this operator
    should not hide).
    """
    cells = df.groupBy(row_col, col_col).agg(
        F.count("*").cast("long").alias("__o")
    )
    wr = Window.partitionBy(row_col)
    wc = Window.partitionBy(col_col)
    wg = Window.partitionBy()
    scored = cells.select(
        row_col, col_col, "__o",
        F.sum("__o").over(wr).alias("__r"),
        F.sum("__o").over(wc).alias("__c"),
        F.sum("__o").over(wg).alias("__n"),
        F.count("*").over(wg).alias("__cells"),
        F.size(F.collect_set(row_col).over(wg)).alias("__nr"),
        F.size(F.collect_set(col_col).over(wg)).alias("__nc"),
    )
    e = (F.col("__r").cast("double") * F.col("__c").cast("double")
         / F.col("__n").cast("double"))
    term = ((F.col("__o").cast("double") - e) * (F.col("__o").cast("double") - e)
            / e).cast("decimal(28,12)")
    agg = scored.groupBy().agg(
        F.min("__n").cast("long").alias("n"),
        ((F.min("__nr") - 1) * (F.min("__nc") - 1)).cast("long")
        .alias("dof"),
        F.sum(term).alias("__chi2"),
        F.least(F.min("__nr") - 1, F.min("__nc") - 1).cast("long")
        .alias("__mindim"),
    )
    chi2 = F.col("__chi2").cast("double")
    # single-category input (mindim 0): V is undefined — report 0.0
    # instead of a NaN/divide-by-zero (the q97 empty-input discipline)
    v = F.when(
        F.col("__mindim") > 0,
        F.sqrt(chi2 / (F.col("n").cast("double")
                       * F.col("__mindim").cast("double"))),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n", "dof",
        decimal_round(chi2, 6, grid=10).alias("chi2"),
        decimal_round(v, 6, grid=10).alias("cramers_v"),
    )


def _reference_vs_types(events: DataFrame, ref_type: str, type_col: str,
                        val_col: str) -> DataFrame:
    """(pair, is_a, v): every reference-type value once per other type
    (is_a = 1) next to that type's own values (is_a = 0) — the two
    samples of each q183/q186 comparison. The other types are a
    distinct-type relation inside the plan, broadcast to the reference
    rows: no driver round trip while the plan is built."""
    is_ref = F.col(type_col).eqNullSafe(ref_type)
    types = events.filter(~is_ref).select(
        F.col(type_col).alias("pair")).distinct()
    a = (
        events.filter(is_ref)
        .select(F.lit(1).alias("is_a"), F.col(val_col).alias("v"))
        .crossJoin(F.broadcast(types))
    )
    b = events.filter(F.col(type_col) != ref_type).select(
        F.col(type_col).alias("pair"), F.lit(0).alias("is_a"),
        F.col(val_col).alias("v"))
    return a.unionByName(b)


def mann_whitney_u(events: DataFrame, ref_type: str = "purchase",
                   type_col: str = "event_type",
                   val_col: str = "value") -> DataFrame:
    """Mann-Whitney U rank-sum comparison of ``val_col`` between the
    reference event type and EVERY other type — the nonparametric
    drift test next to q133's chi-square (categorical) and q135's MAD
    (pointwise): "did the value DISTRIBUTION shift?" without assuming
    normality. One row per pair:

    (pair, n_a, n_b, u2, tie_sum, rank_biserial)

    Exactness: average ranks over ties live on the 0.5 grid, so
    everything is carried DOUBLED in bigints — avg2 = 2·min_rank +
    (t−1), u2 = 2·U_A = Σ_A avg2 − n_a(n_a+1); tie_sum = Σ(t³−t) is
    the exact tie-correction numerator (the variance term
    n_a·n_b·((n+1)n(n−1) − tie_sum)/(12n(n−1)) overflows bigint at
    scale, so the PIECES are emitted exact and the composition is the
    consumer's one float expression). rank_biserial = u2/(n_a·n_b)−1
    is the standard effect size: one IEEE division, snapped.

    Scale (r15 rank-map rewrite, the q185 discipline): the fact
    stream is never sorted — ONE map-side-partial aggregate to the
    (pair, value) grain, a cumulative window over the DISTINCT-VALUE
    relation only, and the per-pair moments read off the value grain.
    The old per-row rank/count windows partitioned by ``pair``
    funneled every row through |types| sort tasks (the guide's
    canonical few-distinct-keys window skew), twice.
    """
    from puregraphdb_spark.functions.numeric import decimal_round

    # The doubled average rank of a value depends only on the
    # (pair, value) marginal counts:
    #   avg2 = rank()·2 + t − 1 = 2·cnt_lt + t + 1 = 2·cumsum(t) − t + 1,
    # and every per-pair moment is distributive over the value groups:
    #   Σ_A avg2 = Σ_v ca·avg2,  Σ_rows (t²−1) = Σ_v (t³−t),
    #   n_a = Σ_v ca,  n_b = Σ_v (t − ca)
    # — all exact bigint arithmetic, so the results are bit-identical
    # to the per-row window form (pinned in tests/test_round14_operators.py::
    # test_mann_whitney_value_grain_equals_per_row_window).
    per_v = (
        _reference_vs_types(events, ref_type, type_col, val_col)
        .groupBy("pair", "v")
        .agg(F.sum("is_a").cast("long").alias("ca"),
             F.count(F.lit(1)).cast("long").alias("t"))
    )
    wv = (Window.partitionBy("pair").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = per_v.select(
        "pair", "ca", "t",
        (F.sum("t").over(wv) * 2 - F.col("t") + 1)
        .cast("long").alias("avg2"),
    )
    agg = ranked.groupBy("pair").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum(F.col("t") - F.col("ca")).cast("long").alias("n_b"),
        F.sum(F.col("ca") * F.col("avg2")).cast("long")
        .alias("ranksum2_a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long").alias("tie_sum"),
    )
    u2 = (F.col("ranksum2_a")
          - F.col("n_a") * (F.col("n_a") + 1)).cast("long")
    return agg.select(
        "pair", "n_a", "n_b", u2.alias("u2"), "tie_sum",
        decimal_round(
            u2.cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
            - F.lit(1.0), 6, grid=10).alias("rank_biserial"),
    )


def spearman_corr(df: DataFrame, group_col: str, x_col: str,
                  y_col: str, hint=None) -> DataFrame:
    """Spearman rank correlation per group — monotone-association
    screening that Pearson (q90/q121) misses on nonlinear-but-
    monotone relations, and the feature-vs-label triage a pipeline
    runs before committing a transform. One row per group:
    (group, n, rho).

    Exactness: Spearman-with-ties IS Pearson on average ranks;
    average ranks live on the 0.5 grid so they are carried DOUBLED
    as bigints (the q183 discipline), per-row products stay bigint
    (x ≤ 2n → x² ≤ 4n², safe past sf100), and the five moment sums
    ride EXACT decimal(38,0) (order-immune; a bigint sum overflows
    at sf1 row counts). The final formula is the q121 sqrt-Pearson
    composition on identical doubles, snapped.

    Scale (r14 rank-map rewrite): the fact stream is never sorted —
    two aggregates to the (group, value) grain, a cumulative window
    over the DISTINCT-VALUE relations only, and two joins attaching
    the rank maps back; the moment aggregate is map-side partial to
    |groups| rows. The old per-row rank windows partitioned by the
    group column funneled every row through |groups| sort tasks (3
    return flags = a 3-task full sort, twice). ``hint`` optionally
    wraps the rank maps (callers with a measured source size pass
    ``broadcast_if_small``; default unhinted keeps the shuffle join
    the planner picks at any scale).
    """
    from puregraphdb_spark.functions.numeric import decimal_round

    # Doubled average ranks via per-VALUE rank maps (r14), not per-ROW
    # windows. rank() over partitionBy(group) funnels the whole
    # relation through |groups| sort tasks — with 3 return flags that
    # is a 3-task sort of every row, twice (once per axis), the guide's
    # canonical few-distinct-keys window skew. The doubled rank of a
    # value depends only on (group, value) marginal counts:
    #   rank()·2 + count(grp,v) − 1  =  2·cnt_lt + cnt_eq + 1
    #                              =  2·cumsum(cnt) − cnt + 1,
    # so ONE aggregate to the (group, value) grain, a window over the
    # distinct-value relation only, and a broadcastable join back give
    # bit-identical ranks while the fact stream never sorts and the
    # moment aggregate stays map-side partial.
    def rank_map(col):
        cnt = (df.groupBy(F.col(group_col).alias("grp"),
                          F.col(col).alias("v"))
               .agg(F.count(F.lit(1)).alias("c")))
        wv = (Window.partitionBy("grp").orderBy("v")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return cnt.select(
            "grp", "v",
            (F.sum("c").over(wv) * 2 - F.col("c") + 1)
            .cast("long").alias("r"))

    hint = hint or (lambda d: d)
    rx = (rank_map(x_col).withColumnRenamed("v", "__xv")
          .withColumnRenamed("r", "x"))
    ry = (rank_map(y_col).withColumnRenamed("v", "__yv")
          .withColumnRenamed("r", "y"))
    ranked = (
        df.select(F.col(group_col).alias("grp"),
                  F.col(x_col).alias("__xv"), F.col(y_col).alias("__yv"))
        .join(hint(rx), ["grp", "__xv"])
        .join(hint(ry), ["grp", "__yv"])
        .select("grp", "x", "y")
    )
    dec = "decimal(38,0)"
    mom = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double")
        .alias("syy"),
    )
    nn = F.col("n").cast("double")
    denom_x = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    denom_y = nn * F.col("syy") - F.col("sy") * F.col("sy")
    rho = (
        (nn * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.sqrt(denom_x) * F.sqrt(denom_y))
    )
    return mom.select(
        F.col("grp").alias(group_col), "n",
        # a constant column has zero rank variance: rho undefined →
        # pinned 0.0 by the same CASE both engines
        F.when((denom_x == 0) | (denom_y == 0), F.lit(0.0))
        .otherwise(decimal_round(rho, 6, grid=10)).alias("rho"),
    )


def q185_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED per-returnflag Spearman correlation of lineitem
    quantity vs extended price (see ``spearman_corr``)."""
    from puregraphdb_spark.sources.registry import broadcast_if_small

    li = load_table(spark, sf_dir, "lineitem")
    # rank maps are one row per distinct (flag, value) — bounded by
    # the measured lineitem size, so the gate applies (they broadcast
    # at fixture scale, shuffle-join past 64 MB)
    return final_sort(
        spearman_corr(li, "l_returnflag", "l_quantity",
                      "l_extendedprice",
                      hint=lambda d: broadcast_if_small(
                          d, spark, sf_dir, "lineitem")),
        spark, sf_dir, "lineitem", "l_returnflag")


def ks_statistic(events: DataFrame, ref_type: str = "purchase",
                 type_col: str = "event_type",
                 val_col: str = "value") -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the reference
    event type and every other type — q183's rank-sum sibling that
    catches SHAPE changes a location test misses (variance shifts,
    bimodality). One row per pair: (pair, n_a, n_b, d_num, d) with
    D = sup|F_A − F_B| carried EXACT as d_num = max|cumA·n_b −
    cumB·n_a| over the merged sample (bigints throughout; D itself
    is the one snapped division).

    Scale: the q183 replicate-reference shape — the reference group
    replicated per comparison type by a broadcast join, ONE shuffle for
    the per-pair value windows, per-pair scalar aggregate.
    """
    from puregraphdb_spark.functions.numeric import decimal_round

    per_v = (
        _reference_vs_types(events, ref_type, type_col, val_col)
        .groupBy("pair", "v")
        .agg(F.sum("is_a").cast("long").alias("ca"),
             F.sum(1 - F.col("is_a")).cast("long").alias("cb"))
    )
    w = (Window.partitionBy("pair").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = per_v.select(
        "pair",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    w_all = Window.partitionBy("pair")
    tot = cum.select(
        "pair", "cum_a", "cum_b",
        F.max("cum_a").over(w_all).alias("n_a"),
        F.max("cum_b").over(w_all).alias("n_b"),
    )
    agg = tot.groupBy("pair").agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max(F.abs(F.col("cum_a") * F.col("n_b")
                    - F.col("cum_b") * F.col("n_a")))
        .cast("long").alias("d_num"),
    )
    return agg.select(
        "pair", "n_a", "n_b", "d_num",
        decimal_round(
            F.col("d_num").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
            6, grid=10).alias("d"),
    )


def q186_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED two-sample KS statistic of event values, purchase vs
    every other type (see ``ks_statistic``)."""
    ev = load_table(spark, sf_dir, "events")
    return final_sort(ks_statistic(ev), spark, sf_dir, "events",
                      "pair")


def q183_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED Mann-Whitney U of event values, purchase vs every
    other type (see ``mann_whitney_u``)."""
    ev = load_table(spark, sf_dir, "events")
    return final_sort(mann_whitney_u(ev), spark, sf_dir, "events",
                      "pair")


def q133_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independence of market segment × order priority (see
    ``chi_square_contingency``)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return chi_square_contingency(joined, "c_mktsegment",
                                  "o_orderpriority")


def _winsor_ranks(lo_pct: int, hi_pct: int, n):
    """1-indexed clamp ranks: ``floor((p*n + 99) / 100)`` (the +99
    turns floor into ceil; the double division is exact-or-safely-
    inside-ulp because the true quotient is a rational with
    denominator 100, never within an ulp of a different integer),
    clamped into [1, n]: lo_pct=0 would otherwise yield rank 0,
    matching no row (ADVICE r9) — clamped, pct=0 selects the group
    minimum, i.e. the low tail is left unclipped."""
    lo_rank = F.greatest(
        F.floor((F.lit(lo_pct) * n + F.lit(99)) / F.lit(100)), F.lit(1))
    hi_rank = F.least(
        F.floor((F.lit(hi_pct) * n + F.lit(99)) / F.lit(100)), n)
    return lo_rank, hi_rank


_DEC_SUM = "decimal(38,4)"


def _dec_arr_sum(arr):
    """Exact decimal sum of an array of doubles, each snapped to
    decimal(28,4) exactly as the row-level ``wv.cast(decimal(28,4))``
    the oracle sums — decimal addition is exact and associative, so
    any regrouping of the same multiset gives the identical total."""
    return F.aggregate(
        arr, F.lit(0).cast(_DEC_SUM),
        lambda a, x: (a + x.cast("decimal(28,4)")).cast(_DEC_SUM),
    )


def winsorized_stats(df: DataFrame, group_col: str, value_col: str,
                     lo_pct: int = 5, hi_pct: int = 95,
                     n_estimate: int | None = None,
                     accuracy: int = 1000,
                     band_target: int = 100_000) -> DataFrame:
    """Per-group winsorized summary: clamp values to the [p_lo, p_hi]
    rank-based order statistics, then report the clamp bounds, the
    winsorized mean, and how many rows each tail clipped — the
    outlier-robust mean the raw average can't give (q110 FLAGS
    outliers; this bounds their influence instead).

    Rank-based (percentile_disc) bounds: the bound at percentile p is
    the value at row ``ceil(p/100 * n)`` of the group's sort order —
    an ACTUAL data value (see ``_winsor_ranks``). No interpolation,
    so the clamp bounds are engine-exact, and the winsorized mean is
    an exact decimal sum over clamped values divided once.

    Size-gated dual plan (the q17 discipline — callers own the gate):

    - ``n_estimate=None`` (measured-small input): ONE scan, ONE
      map-side-combining aggregation that collects each group's
      sorted values and derives bounds, clip counts, and the decimal
      win-sum from the array with HOFs. No window, no per-group sort
      task — the previous ``row_number`` window serialized the whole
      table through one task per group key (3 keys here), which is
      why the r10 single-scan rewrite never moved the wall time
      (VERDICT r10 item 2). Per-group buffer is O(group size):
      callers MUST gate on a measured input size.
    - ``n_estimate`` set (past the gate): GK-sketch bracket around
      both target ranks (±5/accuracy margin, the percentile.py:74
      slack argument; groups ≤ max(1000, accuracy) rows collect
      whole) → ONE more scan joins the broadcast 3-row brackets and
      aggregates, per group: counts below/above the brackets, the
      two sorted in-bracket bands, and the exact decimal sum of the
      between-bracket middle. The exact bounds are then picked from
      the bands by rank arithmetic, and the win-sum is reconstructed
      exactly: clipped tails contribute bound×count, band values
      below/above the bounds swap their own decimal for the bound's.
      ``accuracy`` autoscales so each band stays ≤ ~band_target
      values (10·n/accuracy); the sketch is O(accuracy·log n) memory,
      fine to ~10¹⁰ rows/group — beyond that, percentile.py's
      grid-refinement rounds are the documented extension.

    Both paths share the rank and decimal arithmetic and are
    property-tested equal (test_round11_operators.py). NULL values
    in ``value_col`` are not supported (ranks count rows).
    """
    if not 0 <= lo_pct < hi_pct <= 100:
        raise ValueError(
            f"need 0 <= lo_pct < hi_pct <= 100, got {lo_pct}, {hi_pct}")
    base = df.select(F.col(group_col).alias("grp"),
                     F.col(value_col).alias("v"))
    if n_estimate is None:
        out = _winsorized_collect(base, lo_pct, hi_pct)
    else:
        out = _winsorized_bracket(base, lo_pct, hi_pct,
                                  n_estimate, accuracy, band_target)
    return out.withColumnRenamed("grp", group_col)


def _winsor_finish(n, lo_val, hi_val, clip_lo, clip_hi, win_sum):
    """Shared output projection: identical final arithmetic on both
    paths (decimal win-sum → double, divided once, decimal-snapped)."""
    return [
        n.cast("long").alias("n"),
        lo_val.alias("lo_val"),
        hi_val.alias("hi_val"),
        decimal_round(
            win_sum.cast("double") / n.cast("double"), 4, grid=6,
        ).alias("win_mean"),
        clip_lo.cast("long").alias("n_clip_lo"),
        clip_hi.cast("long").alias("n_clip_hi"),
    ]


def _winsorized_collect(base: DataFrame, lo_pct: int,
                        hi_pct: int) -> DataFrame:
    """Measured-small path: one collect-and-sort aggregation."""
    agg = base.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sort_array(F.collect_list("v")).alias("band"),
    )
    lo_rank, hi_rank = _winsor_ranks(lo_pct, hi_pct, F.col("n"))
    lo_val = F.element_at("band", lo_rank.cast("int"))
    hi_val = F.element_at("band", hi_rank.cast("int"))
    # rows before lo_rank clamp to lo_val, after hi_rank to hi_val;
    # ties at the bound contribute the bound either way, so the
    # rank-count split is exact. Clip counts are strict comparisons
    # (a tie is NOT a clip), hence the array filters.
    win_sum = (
        lo_val.cast("decimal(28,4)") * (lo_rank - 1)
        + hi_val.cast("decimal(28,4)") * (F.col("n") - hi_rank)
        + _dec_arr_sum(F.slice("band", lo_rank.cast("int"),
                               (hi_rank - lo_rank + 1).cast("int")))
    )
    clip_lo = F.size(F.filter("band", lambda x: x < lo_val))
    clip_hi = F.size(F.filter("band", lambda x: x > hi_val))
    return agg.select("grp", *_winsor_finish(
        F.col("n"), lo_val, hi_val, clip_lo, clip_hi, win_sum))


def _winsorized_bracket(base: DataFrame, lo_pct: int, hi_pct: int,
                        n_estimate: int, accuracy: int,
                        band_target: int) -> DataFrame:
    """Size-invariant path: sketch-bracket both ranks, then one
    band-bounded exact pass (see winsorized_stats docstring)."""
    accuracy = max(accuracy,
                   -(-10 * max(n_estimate, 1) // band_target))
    small_floor = max(1000, accuracy)
    margin = 5.0 / accuracy
    plo, phi = lo_pct / 100.0, hi_pct / 100.0
    targets = [max(0.0, plo - margin), min(1.0, plo + margin),
               max(0.0, phi - margin), min(1.0, phi + margin)]
    bounds = base.groupBy("grp").agg(
        F.percentile_approx("v", F.lit(targets), F.lit(accuracy))
        .alias("bnd"),
        F.count("*").alias("n_g"),
    ).select(
        F.col("grp").alias("b_g"),
        F.col("bnd")[0].alias("llo"), F.col("bnd")[1].alias("lhi"),
        F.col("bnd")[2].alias("hlo"), F.col("bnd")[3].alias("hhi"),
        "n_g",
    )
    small = F.col("n_g") <= small_floor
    v = F.col("v")
    in_l = small | ((v >= F.col("llo")) & (v <= F.col("lhi")))
    in_h = small | ((v >= F.col("hlo")) & (v <= F.col("hhi")))
    below_llo = F.when(~small & (v < F.col("llo")), 1).otherwise(0)
    below_hlo = F.when(~small & (v < F.col("hlo")), 1).otherwise(0)
    above_hhi = F.when(~small & (v > F.col("hhi")), 1).otherwise(0)
    in_mid = small | ((v >= F.col("llo")) & (v <= F.col("hhi")))
    agg = (
        base.join(F.broadcast(bounds), F.col("grp") == F.col("b_g"))
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum(below_llo).alias("a_lo"),
            F.sum(below_hlo).alias("a_hi"),
            F.sum(above_hhi).alias("b_hi"),
            F.sort_array(F.collect_list(F.when(in_l, v)))
            .alias("lband"),
            F.sort_array(F.collect_list(F.when(in_h, v)))
            .alias("hband"),
            # exact decimal sum of everything between the brackets
            # (the bands' own members are re-based below)
            F.coalesce(
                F.sum(F.when(in_mid, v.cast("decimal(28,4)"))),
                F.lit(0).cast(_DEC_SUM),
            ).cast(_DEC_SUM).alias("sum_mid"),
        )
    )
    lo_rank, hi_rank = _winsor_ranks(lo_pct, hi_pct, F.col("n"))
    lo_val = F.element_at(
        "lband", (lo_rank - F.col("a_lo")).cast("int"))
    hi_val = F.element_at(
        "hband", (hi_rank - F.col("a_hi")).cast("int"))
    lt = F.filter("lband", lambda x: x < lo_val)
    gt = F.filter("hband", lambda x: x > hi_val)
    # sum_mid counted band members at their own value; members below
    # lo_val (above hi_val) must contribute the bound instead — swap
    # their decimal for bound×count. Rows outside the brackets
    # entirely (a_lo below, b_hi above) contribute bound×count too.
    win_sum = (
        lo_val.cast("decimal(28,4)") * (F.col("a_lo") + F.size(lt))
        + hi_val.cast("decimal(28,4)") * (F.col("b_hi") + F.size(gt))
        + F.col("sum_mid") - _dec_arr_sum(lt) - _dec_arr_sum(gt)
    )
    return agg.select("grp", *_winsor_finish(
        F.col("n"), lo_val, hi_val,
        F.col("a_lo") + F.size(lt), F.col("b_hi") + F.size(gt),
        win_sum))


def q136_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized price stats per return flag (see
    ``winsorized_stats``) — size-gated dual, the q17 discipline:
    measured-small inputs take the one-pass collect-and-sort plan;
    past the gate, the sketch-bracketed two-scan plan (no per-group
    sort at ANY size — the 3-value group key made the old window
    sort serialize the table through 3 tasks, VERDICT r10 item 2)."""
    from puregraphdb_spark.operators.percentile import estimate_rows
    from puregraphdb_spark.sources.registry import table_bytes

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice")
    if table_bytes(spark, sf_dir, "lineitem") < (32 << 20):
        res = winsorized_stats(l, "l_returnflag", "l_extendedprice")
    else:
        res = winsorized_stats(
            l, "l_returnflag", "l_extendedprice",
            n_estimate=estimate_rows(spark, sf_dir, "lineitem"))
    return final_sort(res, spark, sf_dir, "lineitem", "l_returnflag")
