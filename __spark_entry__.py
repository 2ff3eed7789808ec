"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2
(+ the beyond-reference pipeline operators); ``oracle_sql()`` holds the
DuckDB-equivalent ANSI SQL for each. Conventions that keep the two engines
hash-identical:

- timestamps are returned as epoch-ms BIGINT (``unix_millis`` / DuckDB
  ``epoch_ms``) — timezone-proof;
- every double aggregate is ``round(x, 4)`` on both sides;
- ROWS windows order by a unique column (tie-free); RANGE windows order by
  epoch-ms (peer semantics identical in Spark and DuckDB);
- every computed column is aliased to the same name on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openmldb_spark.session import load_table
from openmldb_spark.operators.window import WindowDef, window_agg
from openmldb_spark.operators.window_union import window_union
from openmldb_spark.operators.last_join import last_join
from openmldb_spark.functions import aggregates as A
from openmldb_spark.functions.scalar import fn as sfn, strcmp, earth_distance
from openmldb_spark.pipeline import dedup as D
from openmldb_spark.pipeline import sampling as SA
from openmldb_spark.pipeline import similarity as S
from openmldb_spark.pipeline import text as T
from openmldb_spark.pipeline import contamination as C
from openmldb_spark.catalog import IndexDef, apply_ttl


def _ts_ms(col):
    """timestamp/ntz column -> epoch ms bigint (UTC session pinned)."""
    return F.unix_millis(F.col(col).cast("timestamp"))


def _nspread(spark: SparkSession) -> int:
    """Parallelism target for the conditional CPU-spread of single-split
    document/media scans: the session's shuffle-partition count (which
    tracks the core count) instead of a constant tuned for local[32] —
    the driver also benches at lower core counts, and a hard-coded 32
    would pay 2x the tasks there for no parallelism gain (guide §2:
    scale-adaptive partitioning). At real scale the file count makes
    ``_spread`` a no-op either way."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


# ===========================================================================
# relational core (SURVEY §2.1, §2.2, §2.3, §2.6)
# ===========================================================================


def q_scan_project_filter(spark: SparkSession, sf: str) -> DataFrame:
    """TableProvider + SimpleProject/RowProject + Filter; predicate pushdown
    reaches the parquet scan (PushedFilters in .explain)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.where((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").alias("qty"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
            _ts_ms("l_shipdate").alias("ship_ms"),
        )
    )


def q_group_agg(spark: SparkSession, sf: str) -> DataFrame:
    """GroupAggrerationNode: TPC-H Q1-shaped group aggregate."""
    li = load_table(spark, sf, "lineitem")
    # r13: the filter is written on the raw NTZ column so it reaches the
    # parquet scan (PushedFilters) — `unix_millis(cast(..)) <= X` wrapped
    # the column and disabled pushdown. unix_millis floors to ms, so
    # `ms <= 904694400000` (1998-09-02T00:00:00Z) == `ts < ..00.001`.
    cutoff = F.lit("1998-09-02 00:00:00.001").cast("timestamp_ntz")
    return (
        li.where(F.col("l_shipdate") < cutoff)  # <= 1998-09-02 in epoch-ms
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_distinct_sort_limit(spark: SparkSession, sf: str) -> DataFrame:
    """PhysicalDistinctNode + SortNode + LimitNode in ONE gate row (merged
    r10 to stay inside the driver's 50-row artifact cap): a real dedupe
    (o_custkey repeats ~15x) feeding a high-cardinality TopK sort with a
    tie-free total order."""
    o = load_table(spark, sf, "orders")
    return (
        o.select("o_custkey", "o_orderpriority")
        .distinct()
        .sort(F.col("o_custkey").desc(), F.col("o_orderpriority").asc())
        .limit(50)
    )


def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """SetOperationNode — all four variants in one tagged result: UNION ALL,
    UNION DISTINCT, EXCEPT, INTERSECT (ref parses all, executes UNION only —
    SetOperationPlan.scala:25-27; we execute all, DIVERGENCES #8)."""
    o = load_table(spark, sf, "orders")
    hi = o.where(F.col("o_totalprice") > 250000).select("o_orderkey", "o_orderstatus")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey", "o_orderstatus")

    def tag(df: DataFrame, op: str) -> DataFrame:
        return df.select(F.lit(op).alias("op"), "o_orderkey", "o_orderstatus")

    return (
        tag(hi.unionByName(urgent), "uall")
        .unionByName(tag(hi.unionByName(urgent).distinct(), "udst"))
        .unionByName(tag(hi.subtract(urgent), "exc"))
        .unionByName(tag(hi.intersect(urgent), "int"))
    )


def q_left_join(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT JOIN (offline join surface, cases/query/left_join.yml)."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left").select(
        "c_custkey", "c_name", "n_name"
    )


def q_join_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-join + aggregate: revenue per nation (broadcast dims)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    n = load_table(spark, sf, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


def q_expressions(spark: SparkSession, sf: str) -> DataFrame:
    """Predicate/expression matrix: CASE WHEN, IN, BETWEEN, LIKE, IS NULL,
    bitwise (node_enum.h:215-246 FnOperator surface)."""
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.when(F.col("p_size") < 10, "S").when(F.col("p_size") < 30, "M").otherwise("L").alias("size_class"),
        F.col("p_brand").isin("Brand#1", "Brand#2").alias("is_brand12"),
        F.col("p_size").between(5, 15).alias("mid_size"),
        F.col("p_name").like("%green%").alias("is_green"),
        F.col("p_type").rlike("^ECONOMY").alias("is_economy"),
        F.col("p_retailprice").isNull().alias("no_price"),
        F.col("p_size").bitwiseAND(F.lit(7)).cast("long").alias("size_and7"),
        (~(F.col("p_size") % 2 == 0)).alias("odd_size"),
        # ConstProjectNode coverage (constant expressions, no input
        # dependence) — folded in here when the standalone const query left
        # the registry (round 7, 50-row driver cap)
        (F.lit(1) + F.lit(2)).cast("long").alias("const_three"),
        F.concat(F.lit("a"), F.lit("b")).alias("const_s"),
        (F.lit(1.0) / 2).cast("double").alias("const_half"),
        (F.lit(True) & F.lit(False)).alias("const_t"),
    )


def q_scalar_string_math(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar library surface: string + math + conditional (§2.7)."""
    s = load_table(spark, sf, "supplier")
    return s.select(
        "s_suppkey",
        sfn("concat")(F.col("s_name"), F.lit("|"), F.upper(F.col("s_name"))).alias("cat"),
        sfn("substring")(F.col("s_name"), 1, 8).alias("sub"),
        F.length("s_name").cast("long").alias("name_len"),
        sfn("reverse")(F.col("s_name")).alias("rev"),
        F.locate("#", F.col("s_name")).cast("long").alias("hash_pos"),
        strcmp(F.col("s_name"), F.lit("Supplier#000000050")).cast("long").alias("cmp50"),
        F.round(F.abs(F.col("s_acctbal")), 2).alias("abs_bal"),
        F.round(F.sqrt(F.abs(F.col("s_acctbal"))), 4).alias("sqrt_bal"),
        F.ceil(F.col("s_acctbal")).cast("long").alias("ceil_bal"),
        F.floor(F.col("s_acctbal")).cast("long").alias("floor_bal"),
        F.round(F.pow(F.col("s_nationkey").cast("double"), 2.0), 4).alias("nk_sq"),
        F.pmod(F.col("s_suppkey"), F.lit(7)).cast("long").alias("mod7"),
        F.coalesce(F.col("s_name"), F.lit("?")).alias("nn_name"),
    )


def q_scalar_datetime(spark: SparkSession, sf: str) -> DataFrame:
    """Date/time function surface (§2.7 InitTimeAndDateUdf)."""
    o = load_table(spark, sf, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("y"),
        F.month(d).cast("long").alias("m"),
        F.dayofmonth(d).cast("long").alias("dom"),
        F.dayofweek(d).cast("long").alias("dow"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.weekofyear(d).cast("long").alias("woy"),
        F.hour(d).cast("long").alias("h"),
        F.minute(d).cast("long").alias("mi"),
        F.second(d).cast("long").alias("sec"),
        _ts_ms("o_orderdate").alias("od_ms"),
        F.date_format(d, "yyyy-MM-dd").alias("od_str"),
        F.datediff(F.lit("1998-12-31").cast("date"), d.cast("date")).cast("long").alias("days_to_98"),
        F.last_day(d.cast("date")).cast("string").alias("month_end"),
        F.add_months(d.cast("date"), 3).cast("string").alias("plus3m"),
    )


# ===========================================================================
# window engine (SURVEY §2.5) — the heart of the system
# ===========================================================================


def q_window_rows(spark: SparkSession, sf: str) -> DataFrame:
    """ROWS BETWEEN 5 PRECEDING AND CURRENT ROW per user (tie-free order)."""
    e = load_table(spark, sf, "events")
    wd = WindowDef(partition_by=["user_id"], order_by="event_id", rows=5)
    out = window_agg(
        e,
        wd,
        {
            "sum_v": A.sum_("value"),
            "cnt_v": A.count_("value"),
            "min_v": A.min_("value"),
            "max_v": A.max_("value"),
            "avg_v": A.avg_("value"),
        },
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("sum_v", 4).alias("sum_v"),
        "cnt_v",
        F.round("min_v", 4).alias("min_v"),
        F.round("max_v", 4).alias("max_v"),
        F.round("avg_v", 4).alias("avg_v"),
    )


def q_window_rows_range(spark: SparkSession, sf: str) -> DataFrame:
    """ROWS_RANGE BETWEEN 10m PRECEDING AND CURRENT ROW (ms range frame)."""
    e = load_table(spark, sf, "events").withColumn("ts_ms", _ts_ms("ts"))
    wd = WindowDef(partition_by=["user_id"], order_by="ts_ms", rows_range="10m")
    out = window_agg(e, wd, {"sum_v": A.sum_("value"), "cnt": A.count_all()})
    return out.select(
        "event_id", "user_id", "ts_ms", F.round("sum_v", 4).alias("sum_v"), "cnt"
    )


def q_window_exclude(spark: SparkSession, sf: str) -> DataFrame:
    """EXCLUDE CURRENT_ROW on a RANGE frame (peers stay — DuckDB EXCLUDE
    CURRENT ROW, physical_op.h:1174-1187) + EXCLUDE CURRENT_TIME
    (kExcludeCurrentTime: same-ts peers out, current row in — DuckDB
    EXCLUDE TIES) in one query, two chained window_aggs — plus, r12, the
    SKEW-MITIGATED window arm (operators/window_skew.py, the
    WindowAggPlan.windowPartitionWithSkewOpt analog,
    java/openmldb-batch/.../WindowAggPlan.scala:201-323: per-key
    percentile_approx time cuts, bounded replication, window over
    (key, bucket), keep own-bucket rows — EXACT results at #keys ×
    #buckets parallelism): sv_skew/cnt_skew are the plain 10m RANGE
    window computed through the skew path, oracled against the plain
    window SQL. One row per operator family would blow the driver's
    50-row gate cap, so the window-engine variants share this entry
    (the dedup_exact+simhash folding precedent)."""
    from openmldb_spark.operators.window_skew import window_agg_skewed

    e = (
        load_table(spark, sf, "events")
        .withColumn("ts_ms", _ts_ms("ts"))
        # second-granularity ordering manufactures real ts ties for the
        # EXCLUDE CURRENT_TIME arm
        .withColumn("ts_sec", (_ts_ms("ts") / 1000).cast("long"))
    )
    wd_xr = WindowDef(
        partition_by=["user_id"], order_by="ts_ms", rows_range="10m", exclude_current_row=True
    )
    out = window_agg(e, wd_xr, {"sv_xr": A.sum_("value"), "cnt_xr": A.count_("value")})
    wd_xt = WindowDef(
        partition_by=["user_id"], order_by="ts_sec", rows_range=3600, exclude_current_time=True
    )
    out = window_agg(out, wd_xt, {"sv_xt": A.sum_("value"), "cnt_xt": A.count_("value")})
    wd_sk = WindowDef(partition_by=["user_id"], order_by="ts_ms", rows_range="10m")
    skew = window_agg_skewed(
        e.select("event_id", "user_id", "ts_ms", "value"),
        wd_sk,
        {"sv_skew": A.sum_("value"), "cnt_skew": A.count_all()},
        buckets=4,
    ).select("event_id", "sv_skew", "cnt_skew")
    # r13: the ROWS (count-frame) skew arm — replication bounded by
    # per-bucket row counts instead of a time range; tie order pinned by
    # event_id so the DuckDB oracle's ORDER BY matches exactly
    wd_rsk = WindowDef(
        partition_by=["user_id"], order_by="ts_ms", rows=20, tiebreak="event_id"
    )
    rskew = window_agg_skewed(
        e.select("event_id", "user_id", "ts_ms", "value"),
        wd_rsk,
        {"sv_rsk": A.sum_("value"), "cnt_rsk": A.count_all()},
        buckets=4,
    ).select("event_id", "sv_rsk", "cnt_rsk")
    return out.join(skew, "event_id").join(rskew, "event_id").select(
        "event_id", "user_id",
        F.round("sv_xr", 4).alias("sv_xr"), "cnt_xr",
        F.round("sv_xt", 4).alias("sv_xt"), "cnt_xt",
        F.round("sv_skew", 4).alias("sv_skew"), "cnt_skew",
        F.round("sv_rsk", 4).alias("sv_rsk"), "cnt_rsk",
    )


def q_window_maxsize(spark: SparkSession, sf: str) -> DataFrame:
    """ROWS_RANGE ... MAXSIZE k (WINDOW_CLAUSE.md:313-332): range frame
    capped to the k most recent rows."""
    e = load_table(spark, sf, "events").withColumn("ts_ms", _ts_ms("ts"))
    wd = WindowDef(partition_by=["user_id"], order_by="ts_ms", rows_range="30m", maxsize=5)
    out = window_agg(e, wd, {"sum_v": A.sum_("value"), "cnt": A.count_("value")})
    return out.select("event_id", "user_id", F.round("sum_v", 4).alias("sum_v"), "cnt")


def q_window_offset_fns(spark: SparkSession, sf: str) -> DataFrame:
    """lag / first_value / last_value / nth_value_where over frames
    (window_functions_def.cc:207-344; nth_value_where idx from frame start,
    negative idx from frame end)."""
    e = load_table(spark, sf, "events")
    wd = WindowDef(partition_by=["user_id"], order_by="event_id", rows=5)
    out = window_agg(
        e,
        wd,
        {
            "lag1": A.lag("value", 1),
            "lag3": A.lag("value", 3),
            "fv": A.first_value("value"),
            "lv": A.last_value("value"),
            "nvw2": A.nth_value_where("value", 2, F.col("value") > 50),
            "nvwm1": A.nth_value_where("value", -1, F.col("value") > 50),
        },
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("lag1", 4).alias("lag1"),
        F.round("lag3", 4).alias("lag3"),
        F.round("fv", 4).alias("fv"),
        F.round("lv", 4).alias("lv"),
        F.round("nvw2", 4).alias("nvw2"),
        F.round("nvwm1", 4).alias("nvwm1"),
    )


def q_window_union(spark: SparkSession, sf: str) -> DataFrame:
    """WINDOW ... UNION (flag pattern, WindowAggPlanUtil.scala:50-155):
    click-rows' windows also see view rows; only click rows emitted."""
    e = load_table(spark, sf, "events").withColumn("ts_ms", _ts_ms("ts"))
    main = e.where(F.col("event_type") == "click")
    side = e.where(F.col("event_type") == "view")
    wd = WindowDef(partition_by=["user_id"], order_by="ts_ms", rows_range="30m")
    out = window_union(main, [side], wd, {"sum_v": A.sum_("value"), "cnt": A.count_("value")})
    return out.select("event_id", "user_id", F.round("sum_v", 4).alias("sum_v"), "cnt")


def q_window_union_instance_not_in(spark: SparkSession, sf: str) -> DataFrame:
    """WINDOW UNION + INSTANCE_NOT_IN_WINDOW (physical_op.h:1166-1168):
    frames see union rows + the current row only."""
    e = load_table(spark, sf, "events").withColumn("ts_ms", _ts_ms("ts"))
    main = e.where(F.col("event_type") == "click")
    side = e.where(F.col("event_type") == "view")
    wd = WindowDef(partition_by=["user_id"], order_by="ts_ms", rows_range="30m")
    out = window_union(
        main, [side], wd, {"sum_v": A.sum_("value")}, instance_not_in_window=True
    )
    return out.select("event_id", "user_id", F.round("sum_v", 4).alias("sum_v"))


# ===========================================================================
# LAST JOIN (SURVEY §2.4)
# ===========================================================================


def q_last_join(spark: SparkSession, sf: str) -> DataFrame:
    """LAST JOIN sorted: latest-shipped lineitem per order (JOIN_CLAUSE.md:5-11).
    Plan: dedupe-right then left join (scale path)."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").withColumn("ship_ms", _ts_ms("l_shipdate"))
    out = last_join(
        o.select("o_orderkey", "o_totalprice"),
        li.select("l_orderkey", "l_partkey", "l_quantity", "l_linenumber", "ship_ms"),
        on=[("o_orderkey", "l_orderkey")],
        order_by="ship_ms",
        tiebreak=["l_linenumber", "l_partkey"],
    )
    return out.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),
        "l_partkey",
        F.round("l_quantity", 2).alias("last_qty"),
        "ship_ms",
    )


def q_last_join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """LAST JOIN routed through the bucketed index layout (the batch
    analogue of the reference's key index — PartitionProviderNode,
    `hybridse/include/vm/catalog.h` partition handlers): both sides are
    persisted bucketed by the join key (catalog.save_bucketed), so the
    dedupe-right window AND the join itself run with ZERO Exchange nodes
    (plan-asserted in tests/test_bucketed.py). The bucketed write is the
    once-per-table layout cost the reference pays at CREATE INDEX time;
    every subsequent join/window on the key rides it for free. Result is
    identical to `last_join` (shared oracle shape)."""
    import shutil
    from pathlib import Path

    from openmldb_spark.catalog import IndexDef, save_bucketed

    # a fresh session gets a fresh metastore, but the managed-table
    # locations under spark-warehouse/ survive — drop both, or saveAsTable
    # refuses with LOCATION_ALREADY_EXISTS (a persistent metastore
    # deployment just uses mode=overwrite)
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.removeprefix("file:")
    for t in ("omsk_bkt_orders", "omsk_bkt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(Path(wh) / t, ignore_errors=True)

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    li = (
        load_table(spark, sf, "lineitem")
        .withColumn("ship_ms", _ts_ms("l_shipdate"))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_linenumber", "ship_ms")
    )
    save_bucketed(o, "omsk_bkt_orders", IndexDef("i", keys=["o_orderkey"]), buckets=16)
    save_bucketed(
        li,
        "omsk_bkt_lineitem",
        IndexDef("i", keys=["l_orderkey"], ts_col="ship_ms"),
        buckets=16,
    )
    out = last_join(
        spark.table("omsk_bkt_orders"),
        spark.table("omsk_bkt_lineitem"),
        on=[("o_orderkey", "l_orderkey")],
        order_by="ship_ms",
        tiebreak=["l_linenumber", "l_partkey"],
    )
    return out.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),
        "l_partkey",
        F.round("l_quantity", 2).alias("last_qty"),
        "ship_ms",
    )


def q_last_join_condition(spark: SparkSession, sf: str) -> DataFrame:
    """LAST JOIN with extra non-equi condition. The predicate references
    only right columns, so the engine pre-filters the right side and takes
    the dedupe-right scale plan (no fan-out — VERDICT r3 item 5); a
    two-sided predicate would fall back to the post-filter plan."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").withColumn("ship_ms", _ts_ms("l_shipdate"))
    out = last_join(
        o.select("o_orderkey", "o_totalprice"),
        li.select("l_orderkey", "l_partkey", "l_quantity", "l_linenumber", "ship_ms"),
        on=[("o_orderkey", "l_orderkey")],
        order_by="ship_ms",
        tiebreak=["l_linenumber", "l_partkey"],
        condition=F.col("l_quantity") > 25,
    )
    return out.select(
        "o_orderkey", "l_partkey", F.round("l_quantity", 2).alias("qty"), "ship_ms"
    )


# ===========================================================================
# UDAF library (SURVEY §2.7)
# ===========================================================================


def q_udaf_where(spark: SparkSession, sf: str) -> DataFrame:
    """*_where family in GROUP BY (default_udf_library.cc:2904-3025)."""
    li = load_table(spark, sf, "lineitem")
    cond = F.col("l_quantity") > 25
    return li.groupBy("l_returnflag").agg(
        F.round(A.sum_where("l_extendedprice", cond).as_group(), 2).alias("sum_w"),
        A.count_where("l_extendedprice", cond).as_group().alias("cnt_w"),
        F.round(A.avg_where("l_extendedprice", cond).as_group(), 4).alias("avg_w"),
        F.round(A.min_where("l_extendedprice", cond).as_group(), 2).alias("min_w"),
        F.round(A.max_where("l_extendedprice", cond).as_group(), 2).alias("max_w"),
    )


def q_udaf_cate(spark: SparkSession, sf: str) -> DataFrame:
    """*_cate family: per-category aggregate as 'k:v,...' keys ascending
    (sum_by_category_def.cc:223-246)."""
    li = load_table(spark, sf, "lineitem").withColumn("qty", F.col("l_quantity").cast("long"))
    # r13 (guide §2.3, §5): two-level native aggregation — per-(group, key)
    # partial+final hash aggregates, then the 'k:v,...' strings assembled
    # from the K-row-per-group count table — instead of collect_list of
    # every group member (200k-element agg buffers at sf0.1, unbounded at
    # 100 TB) re-scanned once per distinct key by interpreted HOFs. All
    # aggregates here are integer (long), so the rendered strings are
    # exactly equal; verified against the old spelling and the oracle.
    # The *_cate AggSpecs (window path + direct group use) are unchanged.
    per = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("__s"),
        # count_cate's eligibility is 'some non-null value for this key' —
        # gate the count to NULL so the assembly filter drops empty keys
        # exactly like the old per-key eligible set did
        F.when(F.count("qty") > 0, F.count("qty")).alias("__c"),
        F.min("qty").alias("__mn"),
        F.max("qty").alias("__mx"),
        F.sum(F.when(F.col("l_quantity") > 25, F.col("qty"))).alias("__sw"),
    )
    asm = per.groupBy("l_returnflag").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linestatus").alias("k"),
                    "__s", "__c", "__mn", "__mx", "__sw",
                )
            )
        ).alias("__e")
    )

    def _render(field: str):
        # keys ascending (array_sort on the unique first struct field); a
        # key is present iff it is non-null and its aggregate is non-null
        # (for __sw: iff the key has a condition-true row — the
        # *_cate_where eligibility rule); long values render plainly,
        # exactly as _fmt_num does for integral types
        return F.array_join(
            F.transform(
                F.filter(
                    F.col("__e"),
                    lambda s: s["k"].isNotNull() & s[field].isNotNull(),
                ),
                lambda s: F.concat(s["k"].cast("string"), F.lit(":"), s[field].cast("string")),
            ),
            ",",
        )

    return asm.select(
        "l_returnflag",
        _render("__s").alias("sum_cate"),
        _render("__c").alias("cnt_cate"),
        _render("__mn").alias("min_cate"),
        _render("__mx").alias("max_cate"),
        _render("__sw").alias("sum_cate_w"),
    )


def q_udaf_window_cate(spark: SparkSession, sf: str) -> DataFrame:
    """*_cate over a sliding window (the reference's signature feature shape)."""
    e = load_table(spark, sf, "events").withColumn("v", F.round("value", 0).cast("long"))
    wd = WindowDef(partition_by=["user_id"], order_by="event_id", rows=10)
    out = window_agg(
        e,
        wd,
        {
            "sum_cate": A.sum_cate("v", "event_type"),
            "cnt_cate": A.count_cate("v", "event_type"),
            "top2_key": A.top_n_key_sum_cate_where("v", F.col("v").isNotNull(), "event_type", 2),
        },
    )
    return out.select("event_id", "user_id", "sum_cate", "cnt_cate", "top2_key")


def q_window_frame_bounds(spark: SparkSession, sf: str) -> DataFrame:
    """Non-default frame bounds in one query: bounded upper ends — BETWEEN x
    PRECEDING AND y PRECEDING on ROWS and ROWS_RANGE frames (ref grammar,
    test_udaf_function.yaml:2700,2737) — plus OPEN ... PRECEDING (exclusive
    lower bound, kOpenPreceding node_enum.h:248-266)."""
    e = load_table(spark, sf, "events").withColumn("ts_ms", _ts_ms("ts"))
    wd_r = WindowDef(partition_by=["user_id"], order_by="ts", rows_range="30m", end_range="10m")
    out = window_agg(e, wd_r, {"sv_r": A.sum_("value"), "cnt_r": A.count_("value")})
    wd_n = WindowDef(partition_by=["user_id"], order_by="event_id", rows=5, end_rows=2)
    out = window_agg(out, wd_n, {"sv_n": A.sum_("value"), "cnt_n": A.count_("value")})
    wd_o = WindowDef(
        partition_by=["user_id"], order_by="ts_ms", rows_range="10m", open_preceding=True
    )
    out = window_agg(out, wd_o, {"sv_o": A.sum_("value")})
    return out.select(
        "event_id", "user_id",
        F.round("sv_r", 4).alias("sv_r"), "cnt_r",
        F.round("sv_n", 4).alias("sv_n"), "cnt_n",
        F.round("sv_o", 4).alias("sv_o"),
    )


def q_udaf_ratio_cate(spark: SparkSession, sf: str) -> DataFrame:
    """top_n_key_ratio_cate / top_n_value_ratio_cate over a sliding window
    (ref: aggregate_def.cc:410-471; golden YAML test_udaf_function.yaml:2724)."""
    e = load_table(spark, sf, "events")
    wd = WindowDef(partition_by=["user_id"], order_by="event_id", rows=10)
    out = window_agg(
        e,
        wd,
        {
            "key_ratio": A.top_n_key_ratio_cate("value", F.col("value") > 50, "event_type", 2),
            "val_ratio": A.top_n_value_ratio_cate("value", F.col("value") > 50, "event_type", 2),
        },
    )
    return out.select("event_id", "user_id", "key_ratio", "val_ratio")


def q_feature_zero_lists(spark: SparkSession, sf: str) -> DataFrame:
    """split_array / list_except_by_key / list_except_by_value /
    array_combine over per-document kv strings (ref: array_def.cc:168-230,
    feature_zero_def.cc:768-801)."""
    from openmldb_spark.functions import scalar as SC

    d = load_table(spark, sf, "documents")
    s = F.concat(
        F.lit("lang:"), F.col("lang"),
        F.lit(",src:"), F.col("source"),
        F.lit(",len:"), (F.col("n_chars") % 5).cast("string"),
    )
    lst = SC.split_array(s, ",")
    return d.select(
        "doc_id",
        F.array_join(SC.list_except_by_key(lst, "src"), " ").alias("no_src"),
        F.array_join(SC.list_except_by_value(lst, "0,1,2"), " ").alias("no_small"),
        F.array_join(
            SC.array_combine(
                "-",
                F.array(F.col("lang"), F.col("source")),
                F.array((F.col("doc_id") % 3).cast("string")),
            ),
            ",",
        ).alias("combined"),
    )


def q_udaf_stats(spark: SparkSession, sf: str) -> DataFrame:
    """median / entropy / distinct_count / stddev / variance in GROUP BY.

    r13 (guide §2.3 — aggregate before you shuffle): entropy is computed
    two-level — count per (group, key) with map-side partial aggregation,
    then the K-element Shannon fold over the tiny count table — instead of
    ``collect_list`` of every group member into one agg buffer (200k-element
    arrays per group at sf0.1; unbounded per-task state at 100 TB) followed
    by an O(K·n) interpreted re-scan per distinct key. Identical formula
    term-by-term; float addition order within a group was already
    collect-order-dependent, and equality of the rounded output is
    verified against the old spelling and the DuckDB oracle. The
    single-agg ``A.entropy`` spec (window path + direct group use) is
    unchanged."""
    li = load_table(spark, sf, "lineitem")
    main = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_pop("l_quantity"), 4).alias("vp_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("vs_qty"),
    )
    # count(DISTINCT) is split out: mixed with the TypedImperative median
    # it forced the distinct-Expand rewrite through a sort aggregate
    # (measured 2.0s vs 0.6+0.7 separately); the two-level spelling
    # partial-aggregates map-side and costs 0.4s
    nd = (
        li.groupBy("l_returnflag", "l_partkey")
        .agg(F.first(F.lit(1)).alias("__x"))
        .groupBy("l_returnflag")
        .agg(F.count("l_partkey").alias("nd_parts"))
    )
    cnts = (
        li.where(F.col("l_linestatus").isNotNull())
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ent = (
        cnts.groupBy("l_returnflag")
        .agg(F.sum("__c").alias("__n"), F.collect_list("__c").alias("__cs"))
        .select(
            "l_returnflag",
            F.round(
                F.aggregate(
                    "__cs",
                    F.lit(0.0),
                    lambda a, c: a
                    - (c / F.col("__n")) * F.log2(c.cast("double") / F.col("__n")),
                ),
                4,
            ).alias("ls_entropy"),
        )
    )
    return (
        main.join(F.broadcast(ent), "l_returnflag", "left")
        .join(F.broadcast(nd), "l_returnflag", "left")
        .select(
            "l_returnflag", "med_qty", "ls_entropy", "nd_parts", "sd_qty", "vp_qty", "vs_qty"
        )
    )


def q_udaf_top_freq(spark: SparkSession, sf: str) -> DataFrame:
    """top(k) / top1_ratio / topn_frequency in GROUP BY
    (feature_zero_def.cc:390-560).

    r13 (guide §2.3): the frequency pair (top1_ratio / topn_frequency) is
    computed two-level — count per (user, key) with map-side partial
    aggregation, then max/sum/sort over the tiny per-user count list —
    instead of collecting every member and re-scanning per distinct key
    (O(K·n) interpreted). Ratios divide the same integers, the top-n list
    sorts by the same (count desc, key asc) order with the same NULL
    padding, so outputs are exactly equal (verified vs the old spelling
    and the oracle). top(v, 3) keeps the collect path (top VALUES with
    duplicates). The AggSpecs themselves are unchanged."""
    e = load_table(spark, sf, "events").withColumn("v", F.round("value", 0).cast("long"))
    top3 = e.groupBy("user_id").agg(
        A.top("v", 3).group({"v": F.col("v")}).alias("top3")
    )
    per = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("__c"))
    et_ok = F.col("event_type").isNotNull()
    byu = per.groupBy("user_id").agg(
        F.max(F.when(et_ok, F.col("__c"))).alias("__mx"),
        F.sum(F.when(et_ok, F.col("__c"))).alias("__tot"),
        # collect_list skips the null-key entry; natural struct sort =
        # (count desc, key asc) — topn_frequency's exact order
        F.array_sort(
            F.collect_list(
                F.when(et_ok, F.struct((-F.col("__c")).alias("nc"), F.col("event_type").alias("k")))
            )
        ).alias("__ord"),
    )
    freq = byu.select(
        "user_id",
        F.round(
            F.when(F.col("__tot").isNull(), F.lit(0.0)).otherwise(
                F.col("__mx").cast("double") / F.col("__tot")
            ),
            4,
        ).alias("t1r"),
        F.array_join(
            F.element_at(
                F.transform(
                    F.array(F.transform(F.slice(F.col("__ord"), 1, 2), lambda s: s["k"])),
                    lambda tn: F.concat(
                        tn, F.array_repeat(F.lit("NULL"), F.lit(2) - F.size(tn))
                    ),
                ),
                1,
            ),
            ",",
        ).alias("top2f"),
    )
    return top3.join(freq, "user_id").select("user_id", "top3", "t1r", "top2f")


def q_udaf_window_exotic(spark: SparkSession, sf: str) -> DataFrame:
    """ew_avg / drawdown / median / distinct_count over sliding windows;
    DuckDB oracle folds the same order-dependent reductions with list
    comprehensions (prefix-max for drawdown, geometric weights for ew_avg)."""
    e = load_table(spark, sf, "events")
    wd = WindowDef(partition_by=["user_id"], order_by="event_id", rows=10)
    out = window_agg(
        e,
        wd,
        {
            "ew": A.ew_avg("value", 0.5),
            "dd": A.drawdown("value"),
            "med": A.median_("value"),
            "ndv": A.distinct_count("event_type"),
        },
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("ew", 4).alias("ew"),
        F.round("dd", 4).alias("dd"),
        F.round("med", 4).alias("med"),
        "ndv",
    )


# ===========================================================================
# catalog surface: TTL enforcement (SURVEY §1.1)
# ===========================================================================


def q_ttl_latest(spark: SparkSession, sf: str) -> DataFrame:
    """TTL_TYPE=latest: keep newest N rows per key (segment.h Gc4Head)."""
    e = load_table(spark, sf, "events").withColumn("ts_ms", _ts_ms("ts"))
    idx = IndexDef("i1", keys=["user_id"], ts_col="ts", ttl="3", ttl_type="latest")
    kept = apply_ttl(e, idx)
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("kept_rows"), F.max("ts_ms").alias("max_ts")
    )


# ===========================================================================
# pipeline: dedup / similarity / text (beyond-reference surface)
# ===========================================================================


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup (keep min doc_id per distinct text) + per-kept-doc SimHash
    fingerprint with the portable (md5-derived) token hash, so DuckDB
    recomputes the exact 64-bit fingerprint per doc — one query covers both
    the exact_dedup and simhash operators (full value-hash oracle). The
    default xxhash64 simhash path is exercised by unit tests."""
    d = load_table(spark, sf, "documents")
    kept = D.exact_dedup(d, ["text"], id_col="doc_id")
    fp = D.simhash(kept, "text", token_hash=D.portable_token_hash)
    return fp.select("doc_id", "lang", "source", "n_chars", "simhash")


def q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup removal by exact word-5-gram Jaccard, prefix-filtered.

    Candidates come from the SSJoin prefix index (guaranteed recall for
    J >= t — the MinHash-banding arm was provably redundant here and was
    cut per VERDICT r3 item 3; `jaccard_dedup(exact=False)` keeps the
    banding path, unit-tested in tests/test_pipeline.py), then every
    candidate is verified by EXACT
    Jaccard. The output therefore equals the all-pairs exact-Jaccard dedup,
    which DuckDB recomputes independently — making this operator fully
    oracle-checkable (rows+schema+hash), per VERDICT r1 item 1."""
    d = load_table(spark, sf, "documents")
    # max_token_df=1000 is the production hot-token knob (DIVERGENCES #14;
    # opt-in since round 5 per ADVICE r4). At the oracle SF (sf0.01, 500
    # documents) any token's df <= 500 < 1000, so the cap PROVABLY never
    # binds there and the DuckDB all-pairs oracle stays exact; at larger
    # SFs it bounds the prefix self-join (sf0.1 bench: 9.6s -> ~4s).
    return D.jaccard_dedup(
        d, "doc_id", "text", num_hashes=32, bands=8, shingle_n=5, threshold=0.7,
        max_token_df=1000,
    ).select("doc_id", "lang", "source")


def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs: pairs sharing >= 5
    distinct rare shingles (document frequency <= 50 — the boilerplate
    guard), verified by exact distinct-set Jaccard >= 0.2.

    r10 (SCALE.md §4 fix): candidates now come from
    ``D.overlap_jaccard_pairs`` — the SSJoin/PPJoin overlap-prefix
    formulation (per-doc DISTINCT int64 shingle hashes, prefix-lemma
    candidate join, int-set-array verification) — instead of the string
    inverted-index self-join + ``groupBy(a,b).count()`` whose pair
    aggregate needed executor-shaped memory at 10x input (OOM under a
    default 1 GB local heap; the reformulation completes there). Same
    output contract; the DuckDB oracle (distinct string shingles) is
    matched exactly up to the house xxhash64 set-over-hash convention."""
    from openmldb_spark.pipeline.clusters import (
        dedup_clusters,
        pick_representatives,
    )

    d = S._spread(load_table(spark, sf, "documents"), _nspread(spark))
    pairs = D.overlap_jaccard_pairs(
        d, "doc_id", "text",
        shingle_n=3, min_overlap=5, threshold=0.2, max_token_df=50,
    )
    # r13 (guide §1.2 step 1): the pair set feeds BOTH the cluster loop
    # (via its edge checkpoint) and the final labeled join — without this
    # the whole candidate+verify pipeline executed twice per run
    pairs = pairs.localCheckpoint(eager=False)
    # r12 arm (same entry — the driver gate caps at 50 rows): duplicate-
    # CLUSTER assignment + quality-aware representatives over these exact
    # pairs (pipeline/clusters.py: min-label propagation to the fixpoint,
    # max-n_chars member with min-id ties), previously pytest-only. The
    # oracle recomputes the components with a recursive transitive-
    # closure CTE, so cluster_id and rep_id are fully value-hashed.
    clusters = dedup_clusters(pairs)
    docs = d.select("doc_id", F.col("n_chars").cast("double").alias("q"))
    reps = pick_representatives(docs, clusters, "doc_id", score_col="q")
    # r13: clusters / rep_per_cluster are PAIRS-bounded (one row per id in
    # any near-dup pair) — broadcast them so the corpus-sized reps union
    # and the pair set never shuffle for these joins (3 SMJ -> 3 BHJ;
    # drops the reps-side Exchange, the scale-bearing one)
    rep_per_cluster = F.broadcast(clusters).join(
        reps.select("doc_id"), clusters["id"] == reps["doc_id"]
    ).select(F.col("cluster_id"), F.col("id").alias("rep_id"))
    labeled = (
        pairs.join(
            F.broadcast(clusters.select(F.col("id").alias("a"), "cluster_id")),
            "a",
        )
        .join(F.broadcast(rep_per_cluster), "cluster_id")
    )
    return labeled.select(
        "a", "b", F.round("jaccard", 4).alias("jaccard"),
        "cluster_id", "rep_id",
    )


def q_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup removal, exact mode (planes=0 -> single
    bucket -> all-pairs verify; LSH-bucketed mode covered by unit tests)."""
    emb = load_table(spark, sf, "embeddings")
    out = D.embedding_dedup(emb, "vec_id", "embedding", threshold=0.92, planes=0)
    return out.select("vec_id")


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal column plumbing: opaque binary payloads (synthesized from
    text bytes) through the Arrow-batched feature extractor; decode itself
    is a deterministic stub (no image libs here), the schema/batching/
    partitioning is real."""
    from openmldb_spark.pipeline import multimodal as M

    d = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image/fake").alias("mime"),
        F.encode("text", "utf-8").alias("payload"),
    )
    d = S._spread(d, _nspread(spark))  # CPU-bound Arrow batches; no Exchange when the scan is parallel
    out = M.extract_image_features(d)
    return out.select("media_id", "mime", "n_bytes")


def q_curation_sample_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data curation surface (pipeline/sampling.py): deterministic
    stratified sampling (salted md5 of doc_id vs per-lang thresholds — a
    pure function of the row, reproducible at any scale/partitioning,
    unlike df.sample) followed by fixed token-budget sharding (one window
    cumsum per lang; the chunk where each document STARTS). Zero shuffles
    for the sample, one key-bounded shuffle for the cumsum. DuckDB
    recomputes both bit-for-bit (md5 thresholds + window cumsum)."""
    d = load_table(spark, sf, "documents")
    samp = SA.stratified_sample(
        d, "lang", {"en": 0.5, "de": 1.0, "fr": 0.25}, id_col="doc_id", seed=42
    )
    toks = samp.select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""))
        .cast("long")
        .alias("n_tokens"),
    )
    out = SA.budget_chunks(
        toks, token_col="n_tokens", order_col="doc_id", budget=2000, by="lang"
    )
    return out.select("doc_id", "lang", "n_tokens", "chunk_id")


def q_text_features(spark: SparkSession, sf: str) -> DataFrame:
    """The full text-analysis surface in one projection: quality signals
    (token/punct/digit/stopword ratios + score), stopword-vote language ID
    vs the labeled lang column, md5 fingerprint, BPE-ish token count, and
    (r10) PII redaction — emails -> phones -> IPv4s with per-kind counts.
    The corpus is synthetic word salad, so deterministic PII is injected
    from doc_id first; the scrubbed text itself is oracle-checked via md5.
    Pure Catalyst projections, zero shuffle.

    The small-SF parquet arrives as one split; the regex-heavy projection
    is CPU-bound, so spread it conditionally (at real scale the file count
    does this and no Exchange is added)."""
    d = S._spread(load_table(spark, sf, "documents"), _nspread(spark))
    injected = d.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ),
    )
    # stage the token split ONCE — quality_features and lang_id otherwise
    # each rebuild it (lang_id references it per language)
    injected = injected.withColumn("__tf_toks", T.tokens(F.col("text")))
    out = T.pii_scrub(
        T.quality_features(injected, toks=F.col("__tf_toks")), "text2"
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "avg_token_len",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
        "quality_score",
        "lang",
        T.lang_id(F.col("text"), toks=F.col("__tf_toks")).alias("lang_guess"),
        T.fingerprint(F.col("text")).alias("fp"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\w+|[^\w\s]"), 0)).cast("long").alias("n_bpeish"),
        "n_email",
        "n_phone",
        "n_ip",
        F.md5("text_scrubbed").alias("scrub_fp"),
    )


def q_text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals (dup/top token + bigram ratios) —
    per-row Catalyst array expressions, zero shuffle (plan pinned in
    tests/test_text_extras.py); the O(n log n) sorted-run top-count keeps
    book-length docs safe. The explode-strategy sibling is equality-pinned
    against this one in the same test file."""
    d = S._spread(load_table(spark, sf, "documents"), _nspread(spark))
    out = T.repetition_features(d, ngram=2)
    return out.select(
        "doc_id", "n_tokens", "dup_token_ratio", "top_token_ratio",
        "dup_ngram_ratio", "top_ngram_ratio",
    )


def q_contamination_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark n-gram decontamination audit: docs with doc_id % 20 == 0
    play the embedded eval set (the realistic leak — they flag at 1.0).
    Benchmark shingles broadcast; corpus shuffles once on doc_id.

    The small-SF parquet is ONE split and the shingle HOF is CPU-bound —
    spread it conditionally like the other document queries (at real
    scale the file count parallelizes the scan and no Exchange is
    added; unspread, the whole explode ran on one core: 4.5s -> ~0.4s)."""
    d = S._spread(load_table(spark, sf, "documents"), _nspread(spark))
    bench = d.where(F.col("doc_id") % 20 == 0)
    out = C.ngram_contamination(d, bench, n=5)
    return out.select(
        "doc_id", "n_shingles", "n_contaminated",
        "contamination_ratio", "is_contaminated",
    )


def q_embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline): 20 query vectors
    against the whole corpus; broadcast queries, no corpus shuffle."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    out = S.brute_force_topk(
        emb, queries, corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=5,
    )
    return out.select("query_id", "neighbor_id", (F.round("cos", 4) + F.lit(0.0)).alias("cos"), "rank")


def q_embedding_lsh_topk_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucket-JOIN LSH top-k — the corpus-vs-corpus scale path with NO
    driver-side query collect (VERDICT r1 item 5). portable=True derives
    hyperplanes from md5 and folds sequentially JVM-side, so bucket ids and
    cosines are bit-reproducible in DuckDB: full rows+schema+hash oracle.
    The broadcast-queries sibling (`lsh_topk`) shares this bucketize code;
    its gate row was retired in r10 for the 50-row artifact cap — it stays
    pinned by the recall/portability/plan pytest family
    (tests/test_pipeline.py, test_lsh_banded_oracle.py,
    test_plan_shapes.py)."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 50)
    # bands=1: the oracle-pinned single-band arm (library default is 8)
    out = S.lsh_topk_join(
        emb, queries, corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=5, planes=8, seed=42,
        portable=True, bands=1,
    )
    return out.select("query_id", "neighbor_id", (F.round("cos", 4) + F.lit(0.0)).alias("cos"), "rank")


def q_embedding_ivf_topk_join(spark: SparkSession, sf: str) -> DataFrame:
    """IVF centroid-bucket top-k join — the inverted-file ANN scale path
    (pipeline/similarity.ivf_topk_join): md5-hash-sampled centroids,
    argmax-cosine assignment, nprobe-bucket candidates, all sequential JVM
    folds — bit-reproducible in DuckDB (full rows+schema+hash oracle, the
    same portability contract as embedding_lsh_topk_join)."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 30)
    out = S.ivf_topk_join(
        emb, queries, corpus_id="vec_id", corpus_vec="embedding",
        query_id="vec_id", query_vec="embedding", k=5, n_centroids=16,
        nprobe=4, seed=42,
    )
    # r12 arm (same entry — the driver gate caps at 50 rows): the SAME
    # ranking through the PERSISTED-IVF-INDEX path (pipeline/annindex.py:
    # centroid table + cidx-bucketed corpus index + literal-IN probe; the
    # parquet round-trip, partition-prune pin, and append==rebuild
    # equality live in tests/test_annindex.py). A DISJOINT query set
    # (30 <= vec_id < 50, k=4, nprobe=3) keeps the union schema-stable
    # and both arms independently value-hashed by the oracle.
    from openmldb_spark.pipeline.annindex import (
        ivf_centroids,
        ivf_corpus_index,
        ivf_probe,
    )

    cent = ivf_centroids(
        emb, corpus_id="vec_id", corpus_vec="embedding",
        n_centroids=16, seed=42,
    )
    # r13 (guide §1.2 step 1): the centroid table and the assigned corpus
    # index feed BOTH the probe arm and the drift arm — stage them once
    # (16 rows / one corpus pass) instead of re-running the argmax
    # assignment per consumer. In the persisted-index deployment this
    # materialization IS the parquet index write.
    cent = cent.localCheckpoint(eager=False)
    idx = ivf_corpus_index(emb, cent, corpus_id="vec_id", corpus_vec="embedding")
    idx = idx.localCheckpoint(eager=False)
    probe = ivf_probe(
        emb.where((F.col("vec_id") >= 30) & (F.col("vec_id") < 50)),
        idx, cent, query_id="vec_id", query_vec="embedding", k=4, nprobe=3,
    )
    # r13 arm: centroid-drift observability (pipeline/annindex.py
    # ivf_assignment_stats — the measured input of the "re-train?"
    # decision). Encoded into this entry's (query_id, neighbor_id, cos,
    # rank) shape under a DISJOINT negative-query_id namespace: one
    # mean-cos row (rank 0) and one min-cos row (rank 1) per bucket,
    # query_id = -(cidx+1), neighbor_id = bucket row count — every value
    # independently hashed by the oracle (the r12 fold precedent).
    from openmldb_spark.pipeline.annindex import ivf_assignment_stats

    stats = ivf_assignment_stats(idx, cent)
    drift = stats.select(
        (-(F.col("cidx") + 1)).cast("long").alias("query_id"),
        F.col("n").alias("neighbor_id"),
        (F.round("mean_cos", 4) + F.lit(0.0)).alias("cos"),
        F.lit(0).alias("rank"),
    ).unionByName(
        stats.select(
            (-(F.col("cidx") + 1)).cast("long").alias("query_id"),
            F.col("n").alias("neighbor_id"),
            (F.round("min_cos", 4) + F.lit(0.0)).alias("cos"),
            F.lit(1).alias("rank"),
        )
    )
    # r13 arm: PORTABLE product quantization (pipeline/pq.py — the
    # memory-bounded ANN layout): the md5-sampled codebook (no training
    # state — the k smallest-hash corpus rows donate their normalized
    # subvectors), Arrow-batched argmin encode, and ADC scoring are all
    # deterministic argmin/dot arithmetic, so DuckDB recomputes the
    # encode AND the approximate ranking bit-for-bit. Disjoint query set
    # (50 <= vec_id < 65) keeps every arm independently value-hashed.
    # Folded HERE (not embedding_topk)
    # because this entry is outside bench.py's r2-comparable set.
    from openmldb_spark.pipeline.pq import (
        pq_encode,
        pq_sampled_codebooks,
        pq_topk,
    )

    CB = pq_sampled_codebooks(
        emb, corpus_id="vec_id", corpus_vec="embedding", m=8, k=16, seed=42
    )
    enc = pq_encode(emb, vec_col="embedding", codebooks=CB)
    pq = pq_topk(
        enc, emb.where((F.col("vec_id") >= 50) & (F.col("vec_id") < 65)),
        corpus_id="vec_id", code_col="pq_code",
        query_id="vec_id", query_vec="embedding", codebooks=CB, k=5,
    )
    sel = lambda df: df.select(
        "query_id", "neighbor_id",
        (F.round("cos", 4) + F.lit(0.0)).alias("cos"), "rank",
    )
    return (
        sel(out.unionByName(probe)).unionByName(drift).unionByName(sel(pq))
    )


def q_feature_signature(spark: SparkSession, sf: str) -> DataFrame:
    """Training-instance formatters (feature_signature_def.cc): libsvm +
    csv instances from signed columns."""
    from openmldb_spark.functions import feature_signature as FS

    li = load_table(spark, sf, "lineitem")
    label = FS.binary_label(F.col("l_returnflag") == "R")
    f1 = FS.continuous(F.col("l_quantity"))
    f2 = FS.continuous(F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        FS.libsvm(label, f1, f2).alias("svm"),
        FS.csv_format(label, f1, f2).alias("csv"),
    )


# ===========================================================================
# long-window pre-agg (SURVEY §4.3 — the reference's RequestAggUnion path)
# ===========================================================================


def q_long_window_preagg(spark: SparkSession, sf: str) -> DataFrame:
    """6h sliding sum for a 2% request sample served from 1h pre-agg
    buckets + edge-bucket raw scans (ref: aggregator.h AggrBuffer;
    PhysicalRequestAggUnionNode physical_op.h:1617-1692)."""
    from openmldb_spark.plans.longwindow import preaggregate, request_long_window

    e = load_table(spark, sf, "events").withColumn("ts_ms", _ts_ms("ts"))
    hist = e.select("user_id", "ts_ms", "value")
    reqs = e.where(F.col("event_id") % 50 == 0).select("event_id", "user_id", "ts_ms")
    pre = preaggregate(hist, ["user_id"], "ts_ms", "value", 3_600_000)
    out = request_long_window(
        reqs, hist, pre, ["user_id"], "ts_ms", "value",
        range_ms=21_600_000, bucket_ms=3_600_000, agg="sum",
        request_id="event_id",
    )
    return out.select("event_id", "user_id", F.round("agg_v", 4).alias("sv"))


# ===========================================================================
# SQL front end (SURVEY §3.1): the same constructs entered as dialect SQL
# text — parse -> rewrite -> lower onto the operators above
# ===========================================================================


def q_sql_group(spark: SparkSession, sf: str) -> DataFrame:
    """Text path: GROUP BY + HAVING + count_where rewrite, plus the dialect
    scalar-name rewrites (lcase/strcmp/if_null/truncate) that the retired
    sql_scalars gate query used to cover — folded here to keep the registry
    within the driver's 50-row artifact cap (round-5 item 1)."""
    from openmldb_spark.sql import sql as osql

    return osql(
        spark,
        """
        SELECT event_type, lcase(event_type) AS lt,
               strcmp(event_type, 'click') AS cmpc,
               substr(if_null(event_type, 'x'), 1, 3) AS pre,
               count(*) AS n, round(sum(value), 4) AS sv,
               truncate(avg(value)) AS ta,
               count_where(value, value > 100) AS big
        FROM events GROUP BY event_type HAVING count(*) > 10
        """,
        {"events": load_table(spark, sf, "events")},
    )


def q_sql_window(spark: SparkSession, sf: str) -> DataFrame:
    """Structural path: named window, ROWS_RANGE frame, via SQL text."""
    from openmldb_spark.sql import sql as osql

    out = osql(
        spark,
        """
        SELECT event_id, user_id, sum(value) OVER w1 AS sv,
               count(value) OVER w1 AS cnt
        FROM events WINDOW w1 AS (PARTITION BY user_id ORDER BY ts
            ROWS_RANGE BETWEEN 1h PRECEDING AND CURRENT ROW)
        """,
        {"events": load_table(spark, sf, "events")},
    )
    return out.select("event_id", "user_id", F.round("sv", 4).alias("sv"), "cnt")


def q_sql_two_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Two named windows with different frames/orders in ONE select — the
    reference's multi-window projection (concat-join shape); one Spark
    shuffle per distinct partitioning."""
    from openmldb_spark.sql import sql as osql

    out = osql(
        spark,
        """
        SELECT event_id, user_id,
               sum(value) OVER w1 AS sv1, count(value) OVER w1 AS c1,
               sum(value) OVER w2 AS sv2, lag(value, 2) OVER w2 AS l2
        FROM events
        WINDOW w1 AS (PARTITION BY user_id ORDER BY ts
            ROWS_RANGE BETWEEN 30m PRECEDING AND CURRENT ROW),
        w2 AS (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        """,
        {"events": load_table(spark, sf, "events")},
    )
    return out.select(
        "event_id", "user_id",
        F.round("sv1", 4).alias("sv1"), "c1",
        F.round("sv2", 4).alias("sv2"), F.round("l2", 4).alias("l2"),
    )


def q_sql_window_union(spark: SparkSession, sf: str) -> DataFrame:
    """Structural path: WINDOW ... UNION via SQL text (disjoint main/side)."""
    from openmldb_spark.sql import sql as osql

    e = load_table(spark, sf, "events")
    out = osql(
        spark,
        """
        SELECT event_id, user_id, sum(value) OVER w1 AS sv,
               count(value) OVER w1 AS cnt
        FROM clicks WINDOW w1 AS (UNION views PARTITION BY user_id ORDER BY ts
            ROWS_RANGE BETWEEN 30m PRECEDING AND CURRENT ROW)
        """,
        {
            "clicks": e.where(F.col("event_type") == "click"),
            "views": e.where(F.col("event_type") == "view"),
        },
    )
    return out.select("event_id", "user_id", F.round("sv", 4).alias("sv"), "cnt")


def q_sql_window_maxsize(spark: SparkSession, sf: str) -> DataFrame:
    """Structural path: ROWS_RANGE + MAXSIZE via SQL text (ties broken by
    event_id through the deterministic row order of the loaded table)."""
    from openmldb_spark.sql import sql as osql

    e = load_table(spark, sf, "events").withColumn("ts_ms", _ts_ms("ts"))
    out = osql(
        spark,
        """
        SELECT event_id, user_id, sum(value) OVER w1 AS sv,
               count(value) OVER w1 AS cnt
        FROM events WINDOW w1 AS (PARTITION BY user_id ORDER BY ts_ms
            ROWS_RANGE BETWEEN 30m PRECEDING AND CURRENT ROW MAXSIZE 5)
        """,
        {"events": e},
    )
    return out.select("event_id", "user_id", F.round("sv", 4).alias("sv"), "cnt")


def q_sql_udaf_cate(spark: SparkSession, sf: str) -> DataFrame:
    """Structural path: *_cate and *_where UDAFs through SQL text."""
    from openmldb_spark.sql import sql as osql

    li = load_table(spark, sf, "lineitem").where(F.col("l_orderkey") <= 300)
    out = osql(
        spark,
        """
        SELECT l_orderkey, l_linenumber,
               sum_cate(bigint(l_quantity), l_returnflag) OVER w1 AS qty_by_flag,
               count_where(l_quantity, l_quantity > 25) OVER w1 AS big_cnt
        FROM li WINDOW w1 AS (PARTITION BY l_orderkey
            ORDER BY bigint(l_linenumber) * 1000000000 + l_partkey * 1000 + bigint(l_quantity)
            ROWS BETWEEN 100 PRECEDING AND CURRENT ROW)
        """,
        {"li": li},
    )
    return out


def q_sql_last_join(spark: SparkSession, sf: str) -> DataFrame:
    """Structural path: LAST JOIN via SQL text; ORDER BY takes tiebreak
    columns (dialect superset) so the pick is deterministic and
    oracle-reproducible even with duplicate (ship_ms, linenumber) rows."""
    from openmldb_spark.sql import sql as osql

    li = load_table(spark, sf, "lineitem").withColumn("ship_ms", _ts_ms("l_shipdate"))
    out = osql(
        spark,
        """
        SELECT t1.o_orderkey, t1.o_totalprice, t2.l_partkey, t2.l_quantity
        FROM orders t1 LAST JOIN li t2
        ORDER BY t2.ship_ms, t2.l_linenumber, t2.l_partkey, t2.l_quantity
        ON t1.o_orderkey = t2.l_orderkey
        """,
        {"orders": load_table(spark, sf, "orders"), "li": li},
    )
    return out.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),
        "l_partkey",
        F.round("l_quantity", 2).alias("qty"),
    )


# ===========================================================================
# driver contract
# ===========================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: a sliding-window feature query entered as dialect SQL —
    parse -> rewrite -> lower -> native Spark window execution (the
    reference's core capability end-to-end) at sf0.001."""
    return q_sql_window(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational core
        "scan_project_filter": q_scan_project_filter,
        "curation_sample_pack": q_curation_sample_pack,
        "group_agg": q_group_agg,
        "distinct_sort_limit": q_distinct_sort_limit,
        "set_ops": q_set_ops,
        "left_join": q_left_join,
        "join_agg": q_join_agg,
        "expressions": q_expressions,
        "scalar_string_math": q_scalar_string_math,
        "scalar_datetime": q_scalar_datetime,
        # window engine
        "window_rows": q_window_rows,
        "window_rows_range": q_window_rows_range,
        "window_exclude": q_window_exclude,
        "window_maxsize": q_window_maxsize,
        "window_offset_fns": q_window_offset_fns,
        "window_union": q_window_union,
        "window_union_instance_not_in": q_window_union_instance_not_in,
        # last join
        "last_join": q_last_join,
        "last_join_bucketed": q_last_join_bucketed,
        "last_join_condition": q_last_join_condition,
        # UDAF library
        "udaf_where": q_udaf_where,
        "udaf_cate": q_udaf_cate,
        "udaf_window_cate": q_udaf_window_cate,
        "udaf_ratio_cate": q_udaf_ratio_cate,
        "window_frame_bounds": q_window_frame_bounds,
        "sql_two_windows": q_sql_two_windows,
        "feature_zero_lists": q_feature_zero_lists,
        "udaf_stats": q_udaf_stats,
        "udaf_top_freq": q_udaf_top_freq,
        "udaf_window_exotic": q_udaf_window_exotic,
        # feature signatures
        "feature_signature": q_feature_signature,
        # long-window pre-agg
        "long_window_preagg": q_long_window_preagg,
        # SQL front end
        "sql_group": q_sql_group,
        "sql_window": q_sql_window,
        "sql_window_union": q_sql_window_union,
        "sql_window_maxsize": q_sql_window_maxsize,
        "sql_udaf_cate": q_sql_udaf_cate,
        "sql_last_join": q_sql_last_join,
        # catalog
        "ttl_latest": q_ttl_latest,
        # pipeline
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_embedding": q_dedup_embedding,
        "multimodal_features": q_multimodal_features,
        "text_features": q_text_features,
        "text_repetition": q_text_repetition,
        "contamination_ngram": q_contamination_ngram,
        "embedding_topk": q_embedding_topk,
        "embedding_lsh_topk_join": q_embedding_lsh_topk_join,
        "embedding_ivf_topk_join": q_embedding_ivf_topk_join,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "scan_project_filter": """
            SELECT l_orderkey, l_linenumber, l_quantity AS qty,
                   round(l_extendedprice * (1 - l_discount), 4) AS net_price,
                   epoch_ms(l_shipdate) AS ship_ms
            FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        """,
        "curation_sample_pack": """
            WITH samp AS (
                SELECT doc_id, lang,
                       CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                            x -> x <> '')) AS BIGINT) AS n_tokens
                FROM documents
                WHERE (('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 1000000)
                      < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 1000000
                                  WHEN 'fr' THEN 250000 ELSE 0 END
            )
            SELECT doc_id, lang, n_tokens,
                   CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                                   ROWS UNBOUNDED PRECEDING)
                               - n_tokens) / 2000.0) AS BIGINT) AS chunk_id
            FROM samp
        """,
        "group_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE epoch_ms(l_shipdate) <= 904694400000
            GROUP BY l_returnflag, l_linestatus
        """,
        "distinct_sort_limit": """
            SELECT DISTINCT o_custkey, o_orderpriority FROM orders
            ORDER BY o_custkey DESC, o_orderpriority ASC LIMIT 50
        """,
        "set_ops": """
            WITH hi AS (SELECT o_orderkey, o_orderstatus FROM orders
                        WHERE o_totalprice > 250000),
                 urgent AS (SELECT o_orderkey, o_orderstatus FROM orders
                            WHERE o_orderpriority = '1-URGENT')
            SELECT 'uall' AS op, * FROM (SELECT * FROM hi UNION ALL SELECT * FROM urgent)
            UNION ALL
            SELECT 'udst' AS op, * FROM (SELECT * FROM hi UNION SELECT * FROM urgent)
            UNION ALL
            SELECT 'exc' AS op, * FROM (SELECT * FROM hi EXCEPT SELECT * FROM urgent)
            UNION ALL
            SELECT 'int' AS op, * FROM (SELECT * FROM hi INTERSECT SELECT * FROM urgent)
        """,
        "left_join": """
            SELECT c_custkey, c_name, n_name
            FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        """,
        "join_agg": """
            SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "expressions": """
            SELECT p_partkey,
                   CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_class,
                   p_brand IN ('Brand#1', 'Brand#2') AS is_brand12,
                   p_size BETWEEN 5 AND 15 AS mid_size,
                   p_name LIKE '%green%' AS is_green,
                   regexp_matches(p_type, '^ECONOMY') AS is_economy,
                   p_retailprice IS NULL AS no_price,
                   CAST(p_size & 7 AS BIGINT) AS size_and7,
                   NOT (p_size % 2 = 0) AS odd_size,
                   CAST(1 + 2 AS BIGINT) AS const_three,
                   'a' || 'b' AS const_s,
                   CAST(1.0 / 2 AS DOUBLE) AS const_half,
                   (TRUE AND FALSE) AS const_t
            FROM part
        """,
        "scalar_string_math": """
            SELECT s_suppkey,
                   s_name || '|' || upper(s_name) AS cat,
                   substring(s_name, 1, 8) AS sub,
                   CAST(length(s_name) AS BIGINT) AS name_len,
                   reverse(s_name) AS rev,
                   CAST(coalesce(strpos(s_name, '#'), 0) AS BIGINT) AS hash_pos,
                   CAST(CASE WHEN s_name < 'Supplier#000000050' THEN -1
                        WHEN s_name > 'Supplier#000000050' THEN 1 ELSE 0 END AS BIGINT) AS cmp50,
                   round(abs(s_acctbal), 2) AS abs_bal,
                   round(sqrt(abs(s_acctbal)), 4) AS sqrt_bal,
                   CAST(ceil(s_acctbal) AS BIGINT) AS ceil_bal,
                   CAST(floor(s_acctbal) AS BIGINT) AS floor_bal,
                   round(pow(CAST(s_nationkey AS DOUBLE), 2.0), 4) AS nk_sq,
                   CAST(s_suppkey % 7 AS BIGINT) AS mod7,
                   coalesce(s_name, '?') AS nn_name
            FROM supplier
        """,
        "scalar_datetime": """
            SELECT o_orderkey,
                   year(o_orderdate) AS y, month(o_orderdate) AS m,
                   dayofmonth(o_orderdate) AS dom,
                   CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
                   dayofyear(o_orderdate) AS doy,
                   weekofyear(o_orderdate) AS woy,
                   hour(o_orderdate) AS h, minute(o_orderdate) AS mi,
                   CAST(second(o_orderdate) AS BIGINT) AS sec,
                   epoch_ms(o_orderdate) AS od_ms,
                   strftime(o_orderdate, '%Y-%m-%d') AS od_str,
                   CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_98,
                   CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
                   CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus3m
            FROM orders
        """,
        "window_rows": """
            SELECT event_id, user_id,
                   round(sum(value) OVER w, 4) AS sum_v,
                   count(value) OVER w AS cnt_v,
                   round(min(value) OVER w, 4) AS min_v,
                   round(max(value) OVER w, 4) AS max_v,
                   round(avg(value) OVER w, 4) AS avg_v
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        """,
        "window_rows_range": """
            SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
                   round(sum(value) OVER w, 4) AS sum_v,
                   count(*) OVER w AS cnt
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                         RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)
        """,
        "window_exclude": """
            SELECT event_id, user_id,
                   round(sum(value) OVER wxr, 4) AS sv_xr,
                   count(value) OVER wxr AS cnt_xr,
                   round(sum(value) OVER wxt, 4) AS sv_xt,
                   count(value) OVER wxt AS cnt_xt,
                   round(sum(value) OVER wsk, 4) AS sv_skew,
                   count(*) OVER wsk AS cnt_skew,
                   round(sum(value) OVER wrk, 4) AS sv_rsk,
                   count(*) OVER wrk AS cnt_rsk
            FROM events
            WINDOW wxr AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                           RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW
                           EXCLUDE CURRENT ROW),
                   wxt AS (PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000
                           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
                           EXCLUDE TIES),
                   wsk AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                           RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW),
                   wrk AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                           ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
        """,
        "window_maxsize": """
            WITH framed AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
                     list(struct_pack(o := epoch_ms(ts), v := value))
                       OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS lst
              FROM events
            ), eligible AS (
              SELECT event_id, user_id,
                     list_filter(lst, e -> e.o >= ts_ms - 1800000) AS inr
              FROM framed
            ), capped AS (
              SELECT event_id, user_id,
                     CASE WHEN len(inr) > 5 THEN inr[len(inr)-4:] ELSE inr END AS w5
              FROM eligible
            )
            SELECT event_id, user_id,
                   round(list_sum(list_transform(w5, e -> e.v)), 4) AS sum_v,
                   len(list_filter(w5, e -> e.v IS NOT NULL)) AS cnt
            FROM capped
        """,
        "window_offset_fns": """
            WITH framed AS (
              SELECT event_id, user_id,
                     round(lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id), 4) AS lag1,
                     round(lag(value, 3) OVER (PARTITION BY user_id ORDER BY event_id), 4) AS lag3,
                     round(first_value(value) OVER w, 4) AS fv,
                     round(last_value(value) OVER w, 4) AS lv,
                     list_filter(list(value) OVER w,
                                 x -> coalesce(x > 50, false)) AS mv
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id, lag1, lag3, fv, lv,
                   round(CASE WHEN len(mv) >= 2 THEN mv[2] END, 4) AS nvw2,
                   round(CASE WHEN len(mv) >= 1 THEN mv[len(mv)] END, 4) AS nvwm1
            FROM framed
        """,
        "window_union": """
            WITH u AS (
              SELECT *, 1 AS flag FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT *, 0 AS flag FROM events WHERE event_type = 'view'
            ), w AS (
              SELECT event_id, user_id, flag,
                     sum(value) OVER win AS sum_v,
                     count(value) OVER win AS cnt
              FROM u
              WINDOW win AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                             RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id, round(sum_v, 4) AS sum_v, cnt
            FROM w WHERE flag = 1
        """,
        "window_union_instance_not_in": """
            WITH u AS (
              SELECT *, 1 AS flag FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT *, 0 AS flag FROM events WHERE event_type = 'view'
            ), w AS (
              SELECT event_id, user_id, flag, value,
                     sum(CASE WHEN flag = 0 THEN value END) OVER win AS sum_u
              FROM u
              WINDOW win AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                             RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id,
                   round(coalesce(sum_u, 0) + value, 4) AS sum_v
            FROM w WHERE flag = 1
        """,
        "last_join": """
            WITH latest AS (
              SELECT l_orderkey, l_partkey, l_quantity, epoch_ms(l_shipdate) AS ship_ms
              FROM lineitem
              QUALIFY row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY epoch_ms(l_shipdate) DESC, l_linenumber DESC, l_partkey DESC) = 1
            )
            SELECT o_orderkey, round(o_totalprice, 2) AS total,
                   l_partkey, round(l_quantity, 2) AS last_qty, ship_ms
            FROM orders LEFT JOIN latest ON o_orderkey = l_orderkey
        """,
        "last_join_bucketed": """
            WITH latest AS (
              SELECT l_orderkey, l_partkey, l_quantity, epoch_ms(l_shipdate) AS ship_ms
              FROM lineitem
              QUALIFY row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY epoch_ms(l_shipdate) DESC, l_linenumber DESC, l_partkey DESC) = 1
            )
            SELECT o_orderkey, round(o_totalprice, 2) AS total,
                   l_partkey, round(l_quantity, 2) AS last_qty, ship_ms
            FROM orders LEFT JOIN latest ON o_orderkey = l_orderkey
        """,
        "last_join_condition": """
            WITH j AS (
              SELECT o.o_orderkey, l.l_partkey, l.l_quantity, l.l_linenumber,
                     epoch_ms(l.l_shipdate) AS ship_ms
              FROM orders o LEFT JOIN lineitem l
                ON o.o_orderkey = l.l_orderkey AND l.l_quantity > 25
            )
            SELECT o_orderkey, l_partkey, round(l_quantity, 2) AS qty, ship_ms
            FROM j
            QUALIFY row_number() OVER (PARTITION BY o_orderkey
                     ORDER BY ship_ms DESC NULLS LAST, l_linenumber DESC NULLS LAST, l_partkey DESC NULLS LAST) = 1
        """,
        "embedding_ivf_topk_join": """
            WITH hashed AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     ('0x' || substr(md5('42|' || vec_id), 1, 15))::BIGINT AS h
              FROM embeddings
            ), cent AS (
              SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cidx, v AS cv
              FROM (SELECT h, vec_id, v FROM hashed ORDER BY h, vec_id LIMIT 16)
            ), ev AS (
              SELECT vec_id, v,
                     sqrt(list_reduce(list_prepend(0.0,
                          list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
              FROM hashed
            ), cn AS (
              SELECT cidx, cv,
                     sqrt(list_reduce(list_prepend(0.0,
                          list_transform(cv, x -> x * x)), (a, b) -> a + b)) AS cnrm
              FROM cent
            ), paired AS (
              SELECT e.vec_id, c.cidx,
                     list_reduce(list_prepend(0.0,
                         list_transform(list_zip(e.v, c.cv),
                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
                         (a, b) -> a + b) / (e.nrm * c.cnrm) AS ccos
              FROM ev e CROSS JOIN cn c
            ), ca AS (
              SELECT vec_id, cidx FROM paired
              QUALIFY row_number() OVER (PARTITION BY vec_id
                       ORDER BY ccos DESC, cidx ASC) = 1
            ), qa AS (
              SELECT vec_id, cidx FROM paired WHERE vec_id < 30
              QUALIFY row_number() OVER (PARTITION BY vec_id
                       ORDER BY ccos DESC, cidx ASC) <= 4
            ), scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_reduce(list_prepend(0.0,
                         list_transform(list_zip(eq.v, ec.v),
                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
                         (a, b) -> a + b) / (eq.nrm * ec.nrm) AS cos
              FROM qa q JOIN ca c USING (cidx)
              JOIN ev eq ON eq.vec_id = q.vec_id
              JOIN ev ec ON ec.vec_id = c.vec_id
              WHERE q.vec_id <> c.vec_id
            )
            SELECT query_id, neighbor_id, round(cos, 4) + 0.0 AS cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
            FROM scored QUALIFY rank <= 5
        
            UNION ALL
            SELECT * FROM (

            WITH hashed AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     ('0x' || substr(md5('42|' || vec_id), 1, 15))::BIGINT AS h
              FROM embeddings
            ), cent AS (
              SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cidx, v AS cv
              FROM (SELECT h, vec_id, v FROM hashed ORDER BY h, vec_id LIMIT 16)
            ), ev AS (
              SELECT vec_id, v,
                     sqrt(list_reduce(list_prepend(0.0,
                          list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
              FROM hashed
            ), cn AS (
              SELECT cidx, cv,
                     sqrt(list_reduce(list_prepend(0.0,
                          list_transform(cv, x -> x * x)), (a, b) -> a + b)) AS cnrm
              FROM cent
            ), paired AS (
              SELECT e.vec_id, c.cidx,
                     list_reduce(list_prepend(0.0,
                         list_transform(list_zip(e.v, c.cv),
                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
                         (a, b) -> a + b) / (e.nrm * c.cnrm) AS ccos
              FROM ev e CROSS JOIN cn c
            ), ca AS (
              SELECT vec_id, cidx FROM paired
              QUALIFY row_number() OVER (PARTITION BY vec_id
                       ORDER BY ccos DESC, cidx ASC) = 1
            ), qa AS (
              SELECT vec_id, cidx FROM paired WHERE vec_id >= 30 AND vec_id < 50
              QUALIFY row_number() OVER (PARTITION BY vec_id
                       ORDER BY ccos DESC, cidx ASC) <= 3
            ), scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_reduce(list_prepend(0.0,
                         list_transform(list_zip(eq.v, ec.v),
                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
                         (a, b) -> a + b) / (eq.nrm * ec.nrm) AS cos
              FROM qa q JOIN ca c USING (cidx)
              JOIN ev eq ON eq.vec_id = q.vec_id
              JOIN ev ec ON ec.vec_id = c.vec_id
              WHERE q.vec_id <> c.vec_id
            )
            SELECT query_id, neighbor_id, round(cos, 4) + 0.0 AS cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
            FROM scored QUALIFY rank <= 4
        
            )
            UNION ALL
            SELECT * FROM (

            WITH hashed AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     ('0x' || substr(md5('42|' || vec_id), 1, 15))::BIGINT AS h
              FROM embeddings
            ), cent AS (
              SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cidx, v AS cv
              FROM (SELECT h, vec_id, v FROM hashed ORDER BY h, vec_id LIMIT 16)
            ), ev AS (
              SELECT vec_id, v,
                     sqrt(list_reduce(list_prepend(0.0,
                          list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
              FROM hashed
            ), cn AS (
              SELECT cidx, cv,
                     sqrt(list_reduce(list_prepend(0.0,
                          list_transform(cv, x -> x * x)), (a, b) -> a + b)) AS cnrm
              FROM cent
            ), paired AS (
              SELECT e.vec_id, c.cidx,
                     list_reduce(list_prepend(0.0,
                         list_transform(list_zip(e.v, c.cv),
                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
                         (a, b) -> a + b) / (e.nrm * c.cnrm) AS ccos
              FROM ev e CROSS JOIN cn c
            ), assigned AS (
              SELECT vec_id, cidx, ccos FROM paired
              QUALIFY row_number() OVER (PARTITION BY vec_id
                       ORDER BY ccos DESC, cidx ASC) = 1
            ), stats AS (
              SELECT cidx, CAST(count(*) AS BIGINT) AS n,
                     avg(ccos) AS mean_cos, min(ccos) AS min_cos
              FROM assigned GROUP BY cidx
            )
            SELECT CAST(-(cidx + 1) AS BIGINT) AS query_id, n AS neighbor_id,
                   round(mean_cos, 4) + 0.0 AS cos, CAST(0 AS INT) AS rank
            FROM stats
            UNION ALL
            SELECT CAST(-(cidx + 1) AS BIGINT) AS query_id, n AS neighbor_id,
                   round(min_cos, 4) + 0.0 AS cos, CAST(1 AS INT) AS rank
            FROM stats

            )
            UNION ALL
            SELECT * FROM (

            WITH raw AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     ('0x' || substr(md5('42|' || vec_id), 1, 15))::BIGINT AS h
              FROM embeddings
            ), normed AS (
              SELECT vec_id, h,
                     list_transform(v, x -> x / CASE WHEN n = 0 THEN 1 ELSE n END) AS u
              FROM (SELECT vec_id, h, v,
                      sqrt(list_reduce(list_prepend(0.0,
                           list_transform(v, x -> x * x)), (a, b) -> a + b)) AS n
                    FROM raw)
            ), cb_src AS (
              SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS c, u
              FROM (SELECT h, vec_id, u FROM normed ORDER BY h, vec_id LIMIT 16)
            ), cb AS (
              SELECT t.j, c, u[t.j * 8 + 1 : t.j * 8 + 8] AS cv
              FROM cb_src, range(8) t(j)
            ), sub AS (
              SELECT vec_id, t.j, u[t.j * 8 + 1 : t.j * 8 + 8] AS x
              FROM normed, range(8) t(j)
            ), enc AS (
              SELECT s.vec_id, s.j, cb.c AS code
              FROM sub s JOIN cb ON cb.j = s.j
              QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
                  list_reduce(list_prepend(0.0,
                      list_transform(list_zip(s.x, cb.cv),
                          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
                      (a, b) -> a + b) ASC, cb.c ASC) = 1
            ), qsub AS (
              SELECT vec_id AS qid, t.j, u[t.j * 8 + 1 : t.j * 8 + 8] AS qx
              FROM normed, range(8) t(j)
              WHERE vec_id >= 50 AND vec_id < 65
            ), adc AS (
              SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                     sum(list_reduce(list_prepend(0.0,
                         list_transform(list_zip(q.qx, cb.cv),
                             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
                         (a, b) -> a + b)) AS cos
              FROM qsub q
              JOIN enc e ON e.j = q.j
              JOIN cb ON cb.j = e.j AND cb.c = e.code
              GROUP BY q.qid, e.vec_id
            )
            SELECT query_id, neighbor_id, round(cos, 4) + 0.0 AS cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
            FROM adc WHERE query_id <> neighbor_id
            QUALIFY rank <= 5

            )""",
        "udaf_where": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_quantity > 25 THEN l_extendedprice END), 2) AS sum_w,
                   count(CASE WHEN l_quantity > 25 THEN l_extendedprice END) AS cnt_w,
                   round(avg(CASE WHEN l_quantity > 25 THEN l_extendedprice END), 4) AS avg_w,
                   round(min(CASE WHEN l_quantity > 25 THEN l_extendedprice END), 2) AS min_w,
                   round(max(CASE WHEN l_quantity > 25 THEN l_extendedprice END), 2) AS max_w
            FROM lineitem GROUP BY l_returnflag
        """,
        "udaf_cate": """
            WITH per_cat AS (
              SELECT l_returnflag, l_linestatus,
                     sum(CAST(l_quantity AS BIGINT)) AS s,
                     count(CAST(l_quantity AS BIGINT)) AS c,
                     min(CAST(l_quantity AS BIGINT)) AS mn,
                     max(CAST(l_quantity AS BIGINT)) AS mx,
                     sum(CASE WHEN l_quantity > 25 THEN CAST(l_quantity AS BIGINT) END) AS sw
              FROM lineitem GROUP BY l_returnflag, l_linestatus
            )
            SELECT l_returnflag,
                   string_agg(l_linestatus || ':' || s, ',' ORDER BY l_linestatus) AS sum_cate,
                   string_agg(l_linestatus || ':' || c, ',' ORDER BY l_linestatus) AS cnt_cate,
                   string_agg(l_linestatus || ':' || mn, ',' ORDER BY l_linestatus) AS min_cate,
                   string_agg(l_linestatus || ':' || mx, ',' ORDER BY l_linestatus) AS max_cate,
                   string_agg(CASE WHEN sw IS NOT NULL THEN l_linestatus || ':' || sw END, ',' ORDER BY l_linestatus) AS sum_cate_w
            FROM per_cat GROUP BY l_returnflag
        """,
        "udaf_stats": """
            SELECT l_returnflag,
                   round(median(l_quantity), 4) AS med_qty,
                   round(entropy(l_linestatus), 4) AS ls_entropy,
                   count(DISTINCT l_partkey) AS nd_parts,
                   round(stddev_samp(l_quantity), 4) AS sd_qty,
                   round(var_pop(l_quantity), 4) AS vp_qty,
                   round(var_samp(l_quantity), 4) AS vs_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "udaf_top_freq": """
            WITH vt AS (
              SELECT user_id, CAST(round(value, 0) AS BIGINT) AS v, event_type FROM events
            ), top3 AS (
              SELECT user_id, string_agg(v, ',' ORDER BY v DESC) AS top3
              FROM (SELECT user_id, v FROM vt
                    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY v DESC) <= 3)
              GROUP BY user_id
            ), freq AS (
              SELECT user_id, event_type, count(*) AS c FROM vt GROUP BY user_id, event_type
            ), t1 AS (
              SELECT user_id, round(max(c) * 1.0 / sum(c), 4) AS t1r FROM freq GROUP BY user_id
            ), tf AS (
              -- the reference pads topn_frequency to n with literal "NULL"
              -- (feature_zero_def.cc Output, r8)
              SELECT user_id, string_agg(event_type, ',' ORDER BY c DESC, event_type ASC)
                       || repeat(',NULL', 2 - CAST(count(*) AS INT)) AS top2f
              FROM (SELECT user_id, event_type, c FROM freq
                    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY c DESC, event_type ASC) <= 2)
              GROUP BY user_id
            )
            SELECT top3.user_id, top3.top3, t1.t1r, tf.top2f
            FROM top3 JOIN t1 ON top3.user_id = t1.user_id JOIN tf ON top3.user_id = tf.user_id
        """,
        "udaf_window_cate": """
            WITH base AS (
              SELECT event_id, user_id,
                     list(struct_pack(k := event_type, v := CAST(round(value,0) AS BIGINT)))
                       OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) AS w
              FROM events
            ), keyed AS (
              SELECT event_id, user_id, w,
                     list_sort(list_distinct(list_transform(w, e -> e.k))) AS ks
              FROM base
            )
            SELECT event_id, user_id,
                   list_aggregate(list_transform(ks, k ->
                     k || ':' || CAST(list_sum(list_transform(list_filter(w, e -> e.k = k), e -> e.v)) AS VARCHAR)
                   ), 'string_agg', ',') AS sum_cate,
                   list_aggregate(list_transform(ks, k ->
                     k || ':' || CAST(len(list_filter(w, e -> e.k = k AND e.v IS NOT NULL)) AS VARCHAR)
                   ), 'string_agg', ',') AS cnt_cate,
                   list_aggregate(list_transform(list_reverse(ks)[:2], k ->
                     k || ':' || CAST(list_sum(list_transform(list_filter(w, e -> e.k = k), e -> e.v)) AS VARCHAR)
                   ), 'string_agg', ',') AS top2_key
            FROM keyed
        """,
        "sql_two_windows": """
            SELECT event_id, user_id,
                   round(sum(value) OVER w1, 4) AS sv1,
                   count(value) OVER w1 AS c1,
                   round(sum(value) OVER w2, 4) AS sv2,
                   round(lag(value, 2) OVER (PARTITION BY user_id ORDER BY event_id), 4) AS l2
            FROM events
            WINDOW w1 AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                          RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW),
                   w2 AS (PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        """,
        "window_frame_bounds": """
            SELECT event_id, user_id,
                   round(sum(value) OVER wr, 4) AS sv_r,
                   count(value) OVER wr AS cnt_r,
                   round(sum(value) OVER wn, 4) AS sv_n,
                   count(value) OVER wn AS cnt_n,
                   round(sum(value) OVER wo, 4) AS sv_o
            FROM events
            WINDOW wr AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                          RANGE BETWEEN 1800000 PRECEDING AND 600000 PRECEDING),
                   wn AS (PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING),
                   wo AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                          RANGE BETWEEN 599999 PRECEDING AND CURRENT ROW)
        """,
        "udaf_ratio_cate": """
            WITH base AS (
              SELECT event_id, user_id,
                     list_filter(
                       list(struct_pack(k := event_type, v := value, c := value > 50))
                         OVER (PARTITION BY user_id ORDER BY event_id
                               ROWS BETWEEN 10 PRECEDING AND CURRENT ROW),
                       e -> e.k IS NOT NULL AND e.v IS NOT NULL) AS w
              FROM events
            ), keyed AS (
              SELECT event_id, user_id, w,
                     list_sort(list_distinct(list_transform(w, e -> e.k))) AS ks
              FROM base
            ), ratios AS (
              SELECT event_id, user_id,
                     list_transform(ks, k -> struct_pack(
                       r := len(list_filter(w, e -> e.k = k AND coalesce(e.c, false)))
                            * 1.0 / len(list_filter(w, e -> e.k = k)),
                       k := k)) AS gk
              FROM keyed
            )
            SELECT event_id, user_id,
                   coalesce(list_aggregate(list_transform(
                     list_reverse(list_transform(gk, s -> s.k))[:2],
                     k2 -> k2 || ':' || printf('%.6f',
                       list_filter(gk, s -> s.k = k2)[1].r)),
                     'string_agg', ','), '') AS key_ratio,
                   coalesce(list_aggregate(list_transform(
                     list_reverse(list_sort(gk))[:2],
                     s -> s.k || ':' || printf('%.6f', s.r)),
                     'string_agg', ','), '') AS val_ratio
            FROM ratios
        """,
        "feature_zero_lists": """
            WITH base AS (
              SELECT doc_id, lang, source,
                     ['lang:' || lang,
                      'src:' || source,
                      'len:' || CAST(n_chars % 5 AS VARCHAR)] AS l
              FROM documents
            )
            SELECT doc_id,
                   array_to_string(list_filter(l, e ->
                     NOT list_contains(string_split('src', ','),
                                       string_split(e, ':')[1])), ' ') AS no_src,
                   array_to_string(list_filter(l, e ->
                     NOT list_contains(string_split('0,1,2', ','),
                       coalesce(string_split(e, ':')[2], ''))), ' ') AS no_small,
                   array_to_string([lang || '-' || CAST(doc_id % 3 AS VARCHAR),
                                    source || '-' || CAST(doc_id % 3 AS VARCHAR)],
                                   ',') AS combined
            FROM base
        """,
        "dedup_minhash": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), grams AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 5
                  THEN list_distinct([array_to_string(t[i:i+4], ' ')
                                      FOR i IN range(1, len(t) - 3)])
                  ELSE [array_to_string(t, ' ')] END AS g
              FROM toks
            ), sh AS (
              SELECT doc_id, unnest(g) AS s FROM grams
            ), cand AS (
              SELECT x.doc_id AS a, y.doc_id AS b
              FROM sh x JOIN sh y USING (s)
              WHERE x.doc_id < y.doc_id GROUP BY 1, 2
            ), losers AS (
              SELECT DISTINCT b FROM cand
              JOIN grams gx ON gx.doc_id = a
              JOIN grams gy ON gy.doc_id = b
              WHERE CAST(array_length(list_intersect(gx.g, gy.g)) AS DOUBLE)
                    / array_length(list_distinct(gx.g || gy.g)) >= 0.7
            )
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id NOT IN (SELECT b FROM losers)
        """,
        "dedup_ngram_jaccard": """
            WITH RECURSIVE toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), grams AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 3
                  THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                      FOR i IN range(1, len(t) - 1)])
                  ELSE [array_to_string(t, ' ')] END AS g
              FROM toks
            ), sh AS (
              SELECT doc_id, unnest(g) AS s FROM grams
            ), rare AS (
              SELECT sh.doc_id, sh.s FROM sh
              JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50) d USING (s)
            ), cand AS (
              SELECT x.doc_id AS a, y.doc_id AS b
              FROM rare x JOIN rare y USING (s)
              WHERE x.doc_id < y.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 5
            )
            , pairs AS (
              SELECT a, b,
                     CAST(array_length(list_intersect(gx.g, gy.g)) AS DOUBLE)
                       / array_length(list_distinct(gx.g || gy.g)) AS jaccard
              FROM cand
              JOIN grams gx ON gx.doc_id = a
              JOIN grams gy ON gy.doc_id = b
              WHERE CAST(array_length(list_intersect(gx.g, gy.g)) AS DOUBLE)
                    / array_length(list_distinct(gx.g || gy.g)) >= 0.2
            ), edges AS (
              SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
            ), closure(src, dst) AS (
              SELECT a, b FROM edges
              UNION
              SELECT c.src, e.b FROM closure c JOIN edges e ON e.a = c.dst
            ), labels AS (
              SELECT src AS id, least(src, min(dst)) AS cluster_id
              FROM closure GROUP BY src
            ), reps AS (
              SELECT cluster_id, id AS rep_id FROM (
                SELECT l.cluster_id, l.id,
                       row_number() OVER (PARTITION BY l.cluster_id
                         ORDER BY d.n_chars DESC, l.id ASC) AS rn
                FROM labels l JOIN documents d ON d.doc_id = l.id)
              WHERE rn = 1
            )
            SELECT p.a, p.b, round(p.jaccard, 4) AS jaccard,
                   l.cluster_id, r.rep_id
            FROM pairs p
            JOIN labels l ON l.id = p.a
            JOIN reps r USING (cluster_id)
        """,
        "dedup_embedding": """
            SELECT e.vec_id FROM embeddings e
            WHERE NOT EXISTS (
              SELECT 1 FROM embeddings o
              WHERE o.vec_id < e.vec_id
                AND list_cosine_similarity(o.embedding, e.embedding) >= 0.92)
        """,
        "multimodal_features": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   'image/fake' AS mime,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        """,
        "udaf_window_exotic": """
            WITH framed AS (
              SELECT event_id, user_id,
                     list(value) OVER w AS vs,
                     list(event_type) OVER w AS ets
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
            ), prep AS (
              SELECT event_id, user_id,
                     list_reverse(list_filter(vs, x -> x IS NOT NULL)) AS r,
                     list_filter(vs, x -> x IS NOT NULL AND x >= 0) AS dv,
                     list_sort(list_filter(vs, x -> x IS NOT NULL)) AS sv,
                     len(list_distinct(list_filter(ets, x -> x IS NOT NULL)))
                       + CASE WHEN len(list_filter(ets, x -> x IS NULL)) > 0
                              THEN 1 ELSE 0 END AS ndv
              FROM framed
            )
            SELECT event_id, user_id,
              round(CASE WHEN len(r) > 0 THEN
                list_sum([r[i] * power(0.5, i-1) FOR i IN range(1, len(r)+1)])
                / list_sum([power(0.5, i-1) FOR i IN range(1, len(r)+1)]) END, 4) AS ew,
              round(CASE WHEN len(dv) > 0 THEN
                coalesce(list_max([ (list_max(dv[1:k]) - dv[k]) / list_max(dv[1:k])
                                    FOR k IN range(1, len(dv)+1)
                                    IF list_max(dv[1:k]) > 0 ]), 0.0) END, 4) AS dd,
              round(CASE WHEN len(sv) = 0 THEN NULL
                    WHEN len(sv) % 2 = 1 THEN sv[(len(sv)//2)+1]
                    ELSE (sv[len(sv)//2] + sv[len(sv)//2+1]) / 2.0 END, 4) AS med,
              ndv
            FROM prep
        """,
        "feature_signature": """
            SELECT l_orderkey, l_linenumber,
                   CAST(l_returnflag = 'R' AS INT) || ' 1:' || printf('%.6f', l_quantity)
                     || ' 2:' || printf('%.6f', l_discount) AS svm,
                   CAST(l_returnflag = 'R' AS INT) || ',' || printf('%.6f', l_quantity)
                     || ',' || printf('%.6f', l_discount) AS csv
            FROM lineitem
        """,
        "long_window_preagg": """
            SELECT r.event_id, r.user_id, round(sum(e.value), 4) AS sv
            FROM (SELECT event_id, user_id, epoch_ms(ts) AS t
                  FROM events WHERE event_id % 50 = 0) r
            LEFT JOIN events e ON e.user_id = r.user_id
              AND epoch_ms(e.ts) BETWEEN r.t - 21600000 AND r.t
            GROUP BY r.event_id, r.user_id
        """,
        "sql_group": """
            SELECT event_type, lower(event_type) AS lt,
                   CASE WHEN event_type < 'click' THEN -1
                        WHEN event_type > 'click' THEN 1
                        WHEN event_type = 'click' THEN 0 END AS cmpc,
                   substr(coalesce(event_type, 'x'), 1, 3) AS pre,
                   count(*) AS n, round(CAST(sum(value) AS DOUBLE), 4) AS sv,
                   CAST(trunc(avg(value)) AS DOUBLE) AS ta,
                   count(CASE WHEN value > 100 THEN value END) AS big
            FROM events GROUP BY event_type HAVING count(*) > 10
        """,
        "sql_window": """
            SELECT event_id, user_id, round(sum(value) OVER w, 4) AS sv,
                   count(value) OVER w AS cnt
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                         RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        """,
        "sql_window_union": """
            WITH u AS (
              SELECT *, 1 AS flag FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT *, 0 AS flag FROM events WHERE event_type = 'view'
            ), w AS (
              SELECT event_id, user_id, flag,
                     sum(value) OVER win AS sv,
                     count(value) OVER win AS cnt
              FROM u
              WINDOW win AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                             RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id, round(sv, 4) AS sv, cnt
            FROM w WHERE flag = 1
        """,
        "sql_window_maxsize": """
            WITH framed AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
                     list(struct_pack(o := epoch_ms(ts), v := value))
                       OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS lst
              FROM events
            ), eligible AS (
              SELECT event_id, user_id,
                     list_filter(lst, e -> e.o >= ts_ms - 1800000) AS inr
              FROM framed
            ), capped AS (
              SELECT event_id, user_id,
                     CASE WHEN len(inr) > 5 THEN inr[len(inr)-4:] ELSE inr END AS w5
              FROM eligible
            )
            SELECT event_id, user_id,
                   round(list_sum(list_transform(w5, e -> e.v)), 4) AS sv,
                   len(list_filter(w5, e -> e.v IS NOT NULL)) AS cnt
            FROM capped
        """,
        "sql_udaf_cate": """
            WITH base AS (
              SELECT l_orderkey, l_linenumber,
                     list(struct_pack(k := l_returnflag, v := CAST(l_quantity AS BIGINT)))
                       OVER (PARTITION BY l_orderkey
                             ORDER BY CAST(l_linenumber AS BIGINT) * 1000000000 + l_partkey * 1000
                                      + CAST(l_quantity AS BIGINT)
                             ROWS BETWEEN 100 PRECEDING AND CURRENT ROW) AS w,
                     list(struct_pack(q := l_quantity))
                       OVER (PARTITION BY l_orderkey
                             ORDER BY CAST(l_linenumber AS BIGINT) * 1000000000 + l_partkey * 1000
                                      + CAST(l_quantity AS BIGINT)
                             ROWS BETWEEN 100 PRECEDING AND CURRENT ROW) AS wq
              FROM lineitem WHERE l_orderkey <= 300
            ), keyed AS (
              SELECT l_orderkey, l_linenumber, w, wq,
                     list_sort(list_distinct(list_transform(w, e -> e.k))) AS ks
              FROM base
            )
            SELECT l_orderkey, l_linenumber,
                   list_aggregate(list_transform(ks, k ->
                     k || ':' || CAST(list_sum(list_transform(list_filter(w, e -> e.k = k), e -> e.v)) AS VARCHAR)
                   ), 'string_agg', ',') AS qty_by_flag,
                   len(list_filter(wq, e -> e.q > 25)) AS big_cnt
            FROM keyed
        """,
        "sql_last_join": """
            WITH latest AS (
              SELECT l_orderkey, l_partkey, l_quantity
              FROM lineitem
              QUALIFY row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY epoch_ms(l_shipdate) DESC, l_linenumber DESC,
                                l_partkey DESC, l_quantity DESC) = 1
            )
            SELECT o_orderkey, round(o_totalprice, 2) AS total,
                   l_partkey, round(l_quantity, 2) AS qty
            FROM orders LEFT JOIN latest ON o_orderkey = l_orderkey
        """,
        "ttl_latest": """
            WITH kept AS (
              SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
              QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC) <= 3
            )
            SELECT user_id, count(*) AS kept_rows, max(ts_ms) AS max_ts
            FROM kept GROUP BY user_id
        """,
        "dedup_exact": """
            WITH kept AS (
              SELECT doc_id, lang, source, n_chars, text FROM documents
              QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
            ), toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM kept
            ), th AS (
              SELECT doc_id, unnest(t) AS tok FROM toks
            ), hh AS (
              SELECT doc_id, (('0x' || substr(md5(tok), 1, 15))::BIGINT) AS h FROM th
            ), bits AS (
              SELECT doc_id, h, unnest(range(0, 60)) AS j FROM hh
            ), votes AS (
              SELECT doc_id, j,
                     sum(CASE WHEN (h // (1::BIGINT << j)) % 2 = 1 THEN 1 ELSE -1 END) AS v
              FROM bits GROUP BY 1, 2
            ), fp AS (
              SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
              FROM votes GROUP BY 1
            )
            SELECT k.doc_id, k.lang, k.source, k.n_chars,
                   CAST(coalesce(fp.simhash, 0) AS BIGINT) AS simhash
            FROM kept k LEFT JOIN fp USING (doc_id)
        """,
        "text_features": """
            WITH t AS (
              SELECT doc_id, text, lang,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
                     length(text) AS n_chars
              FROM documents
            ), m AS (
              SELECT doc_id, lang, text, n_chars, len(toks) AS n_tokens,
                     CASE WHEN len(toks) > 0
                          THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
                          ELSE 0.0 END AS atl,
                     (n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                        / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END) AS pr,
                     (n_chars - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                        / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END) AS dr,
                     len(list_filter(toks, x -> list_contains(
                        ['the','and','of','to','in','is','that','it','was','for'], lower(x)))) * 1.0
                        / (CASE WHEN len(toks) > 0 THEN len(toks) ELSE 1 END) AS sr,
                     len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','it','was','for'], lower(x)))) AS s_en,
                     len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','auf','sich'], lower(x)))) AS s_de,
                     len(list_filter(toks, x -> list_contains(['le','la','les','et','des','est','dans','que','une','pour'], lower(x)))) AS s_fr,
                     len(list_filter(toks, x -> list_contains(['el','la','los','las','es','en','que','una','por','con'], lower(x)))) AS s_es
              FROM t
            ), inj AS (
              SELECT doc_id,
                     text || ' contact u' || CAST(doc_id AS VARCHAR)
                          || '@example.com or 555-010-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t0
              FROM documents
            ), e AS (
              SELECT doc_id,
                     len(regexp_extract_all(t0,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
                     regexp_replace(t0,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g') AS t1
              FROM inj
            ), p AS (
              SELECT doc_id, n_email,
                     len(regexp_extract_all(t1, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS n_phone,
                     regexp_replace(t1, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b',
                                    '<PHONE>', 'g') AS t2
              FROM e
            ), i AS (
              SELECT doc_id, n_email, n_phone,
                     len(regexp_extract_all(t2,
                         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
                     regexp_replace(t2,
                         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                         '<IP>', 'g') AS t3
              FROM p
            )
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(atl, 4) AS avg_token_len,
                   round(pr, 4) AS punct_ratio,
                   round(dr, 4) AS digit_ratio,
                   round(sr, 4) AS stopword_ratio,
                   round(CAST(
                     (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END) +
                     (CASE WHEN round(pr, 4) <= 0.2 THEN 0.2 ELSE 0.0 END) +
                     (CASE WHEN round(dr, 4) <= 0.3 THEN 0.1 ELSE 0.0 END) +
                     (CASE WHEN round(sr, 4) >= 0.05 THEN 0.3 ELSE 0.0 END) AS DOUBLE), 4) AS quality_score,
                   lang,
                   CASE
                     WHEN s_es > s_fr AND s_es > s_de AND s_es > s_en THEN 'es'
                     WHEN s_fr > s_de AND s_fr > s_en THEN 'fr'
                     WHEN s_de > s_en THEN 'de'
                     WHEN s_en > 0 THEN 'en'
                     ELSE 'und'
                   END AS lang_guess,
                   md5(text) AS fp,
                   CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_bpeish,
                   CAST(i.n_email AS BIGINT) AS n_email,
                   CAST(i.n_phone AS BIGINT) AS n_phone,
                   CAST(i.n_ip AS BIGINT) AS n_ip,
                   md5(i.t3) AS scrub_fp
            FROM m JOIN i USING (doc_id)
        """,
        "text_repetition": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            ), g AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(range(1, len(toks)),
                                              i -> toks[i] || ' ' || toks[i+1])
                          ELSE []::VARCHAR[] END AS bg
              FROM t
            )
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   round(CASE WHEN len(toks) > 0
                         THEN 1.0 - len(list_distinct(toks)) * 1.0 / len(toks)
                         ELSE 0.0 END, 4) AS dup_token_ratio,
                   round(CASE WHEN len(toks) > 0
                         THEN list_max(list_transform(list_distinct(toks),
                                d -> len(list_filter(toks, x -> x = d)))) * 1.0 / len(toks)
                         ELSE 0.0 END, 4) AS top_token_ratio,
                   round(CASE WHEN len(bg) > 0
                         THEN 1.0 - len(list_distinct(bg)) * 1.0 / len(bg)
                         ELSE 0.0 END, 4) AS dup_ngram_ratio,
                   round(CASE WHEN len(bg) > 0
                         THEN list_max(list_transform(list_distinct(bg),
                                d -> len(list_filter(bg, x -> x = d)))) * 1.0 / len(bg)
                         ELSE 0.0 END, 4) AS top_ngram_ratio
            FROM g
        """,
        "contamination_ngram": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            ), sh AS (
              -- mirror the shingle pipeline's short-doc fallback: under n tokens,
              -- the whole token list rejoined is the one shingle (ADVICE
              -- r10: without this, <5-token docs vanish from the oracle)
              SELECT doc_id,
                     CASE WHEN len(toks) < 5
                          THEN [array_to_string(toks, ' ')]
                          ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                 || ' ' || toks[i+3] || ' ' || toks[i+4])) END AS s
              FROM t
            ), bm AS (
              SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0
            ), ex AS (
              SELECT doc_id, unnest(s) AS g FROM sh
            )
            SELECT ex.doc_id,
                   CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(count(bm.g) AS BIGINT) AS n_contaminated,
                   round(count(bm.g) * 1.0 / count(*), 4) AS contamination_ratio,
                   (round(count(bm.g) * 1.0 / count(*), 4) >= 0.5) AS is_contaminated
            FROM ex LEFT JOIN bm ON ex.g = bm.g
            GROUP BY ex.doc_id
        """,
        "embedding_lsh_topk_join": """
            WITH P AS (
              SELECT CAST(i // 64 AS INT) AS p, CAST(i % 64 AS INT) AS d,
                     CAST(('0x' || substr(md5('42|' || (i // 64) || '|' || (i % 64)), 1, 15))::BIGINT
                          / power(2.0, 59) - 1 AS DOUBLE) AS c
              FROM range(0, 512) t(i)
            ), coeff AS (
              SELECT p, list(CAST(c AS DOUBLE) ORDER BY d) AS cs FROM P GROUP BY p
            ), vb AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN list_reduce(list_prepend(0.0,
                            list_transform(list_zip(CAST(embedding AS DOUBLE[]), cs),
                                           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
                            (a, b) -> a + b) >= 0
                              THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
              FROM embeddings, coeff GROUP BY vec_id
            ), ev AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_reduce(list_prepend(0.0,
                          list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
                          (a, b) -> a + b)) AS nrm
              FROM embeddings
            ), scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_reduce(list_prepend(0.0, list_transform(list_zip(eq.v, ec.v),
                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (a, b) -> a + b)
                       / (eq.nrm * ec.nrm) AS cos
              FROM vb q JOIN vb c USING (bucket)
              JOIN ev eq ON eq.vec_id = q.vec_id
              JOIN ev ec ON ec.vec_id = c.vec_id
              WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id
            )
            SELECT query_id, neighbor_id, round(cos, 4) + 0.0 AS cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
            FROM scored QUALIFY rank <= 5
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
            scored AS (
              SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
              FROM q CROSS JOIN embeddings e
              WHERE q.qid <> e.vec_id
            )
            SELECT query_id, neighbor_id, round(cos, 4) + 0.0 AS cos,
                   CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 5
        """,
    }
