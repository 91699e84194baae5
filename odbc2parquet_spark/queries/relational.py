"""Relational operator inventory (SURVEY §2.1).

The reference delegates every relational operator to the remote DBMS
(reference src/query.rs:90-91); the Spark-native inversion is that these
queries ARE the engine. Each query is written with the DataFrame API (or
parameterized spark.sql) so Catalyst plans it; the DuckDB oracle is the
independent ANSI-SQL statement of the same semantics.

Determinism conventions (both sides):
- double aggregates: per-row double arithmetic -> CAST to DECIMAL(18,6)
  (exact, order-insensitive sum) -> final CAST to DOUBLE. Summation order
  can then never change a bit.
- LIMIT always under a total order (unique-key tiebreaks).
- identical aliases and column order on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from odbc2parquet_spark.catalog import load_table
from odbc2parquet_spark.functions.hashing import HASH_DOMAIN, md5_long, md5_long_sql
from odbc2parquet_spark.queries import query


def _dec(col):
    """Exact-sum intermediate: double expr -> DECIMAL(18,6)."""
    return col.cast("decimal(18,6)")


def _sum_d(col, alias):
    """SUM over exact decimals, surfaced as DOUBLE."""
    return F.sum(_dec(col)).cast("double").alias(alias)


# --- aggregation: the flagship (TPC-H Q1 shape, SURVEY §5 port strategy) ---

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odbc2parquet_spark.catalog import spread_scan

    # The decimal-exact partial aggregation is the cost of this query and
    # runs in the SCAN stage — which the single-file/single-row-group
    # test layout pins to one task (catalog.spread_scan). Filter and
    # projection push below the round-robin exchange, so the shuffled
    # bytes are the 7 needed columns; measured 1.93s -> 1.08s at sf0.1,
    # and a no-op on a multi-split layout.
    li = spread_scan(load_table(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_d(F.col("l_quantity"), "sum_qty"),
            _sum_d(F.col("l_extendedprice"), "sum_base_price"),
            _sum_d(disc_price, "sum_disc_price"),
            _sum_d(charge, "sum_charge"),
            (F.sum(_dec(F.col("l_quantity"))).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / F.count("*")).alias(
                "avg_price"
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- projection + filter with parquet pushdown ---

@query(
    "q_filter_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity < 3 AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
    """,
)
def q_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") < 3)
        & (F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# --- positional ? parameter binding (reference src/query.rs:63-66) ---

@query(
    "q_param_binding",
    bench=False,
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 450000.0 AND o_orderstatus = 'F'
    """,
)
def q_param_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference binds CLI strings as positional ODBC params; Spark 4's
    # parameterized SQL is the same contract.
    return spark.sql(
        f"""
        SELECT o_orderkey, o_totalprice
        FROM parquet.`{sf_dir}/orders.parquet`
        WHERE o_totalprice > ? AND o_orderstatus = ?
        """,
        args=[450000.0, "F"],
    )


# --- joins ---

@query(
    "q_join_revenue_topn",
    oracle="""
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS orderdate,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_join_revenue_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .filter(F.col("o_orderdate") < F.lit("2000-03-15 00:00:00").cast("timestamp_ntz"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("orderdate"))
        .agg(_sum_d(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@query(
    "q_semi_join",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_anti_join",
    bench=False,
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS customers_without_orders
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("customers_without_orders"))
        .orderBy("c_mktsegment")
    )


@query(
    "q_broadcast_dims",
    oracle="""
    SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
)
def q_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dimension tables are tiny at every SF -> explicit broadcast so the fact
    # scan never shuffles (at 100 TB this is the difference between a
    # map-side join and a full exchange of the customer table).
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            _sum_d(F.col("c_acctbal"), "total_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "q_outer_join",
    bench=False,
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    ORDER BY c.c_custkey
    """,
)
def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


# --- window functions ---

@query(
    "q_window_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "q_window_running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
    """,
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(_dec(F.col("value")))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_value"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


# --- grouping sets / rollup / cube ---

@query(
    "q_rollup",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(F.count("*").alias("n"))


@query(
    "q_cube",
    bench=False,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(_sum_d(F.col("l_quantity"), "sum_qty"))


@query(
    "q_grouping_sets",
    bench=False,
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --- sort / limit / distinct / set ops ---

@query(
    "q_orderby_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
)
def q_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Spark plans this as TakeOrderedAndProject: per-partition top-K, then a
    # K-merge on the driver — no global sort at any scale.
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(20)
    )


@query(
    "q_distinct_count",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    """,
)
def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q_set_intersect",
    bench=False,
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.intersect(o)


@query(
    "q_set_except",
    bench=False,
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.exceptAll(o).distinct()


@query(
    "q_union_all",
    bench=False,
    oracle="""
    SELECT k, src, COUNT(*) AS n FROM (
        SELECT l_orderkey AS k, 'li' AS src FROM lineitem
        UNION ALL
        SELECT o_orderkey AS k, 'ord' AS src FROM orders
    ) GROUP BY k, src HAVING COUNT(*) > 4 ORDER BY k, src
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), F.lit("li").alias("src")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.lit("ord").alias("src")
    )
    return (
        li.unionAll(o)
        .groupBy("k", "src")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 4)
        .orderBy("k", "src")
    )


# --- scalar functions (string/date/math/conditional) ---

@query(
    "q_scalar_functions",
    bench=False,
    oracle="""
    SELECT o_orderkey,
           UPPER(o_orderpriority) AS pri_upper,
           SUBSTRING(o_orderpriority, 1, 1) AS pri_code,
           LENGTH(o_orderstatus) AS status_len,
           EXTRACT(YEAR FROM o_orderdate) AS order_year,
           EXTRACT(MONTH FROM o_orderdate) AS order_month,
           ABS(o_totalprice) AS abs_price,
           FLOOR(o_totalprice) AS floor_price,
           CEIL(o_totalprice) AS ceil_price,
           CASE WHEN o_totalprice > 250000 THEN 'big' ELSE 'small' END AS size_class,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open
    FROM orders
    WHERE o_orderkey <= 500
    """,
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("pri_upper"),
        F.substring("o_orderpriority", 1, 1).alias("pri_code"),
        F.length("o_orderstatus").alias("status_len"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.abs("o_totalprice").alias("abs_price"),
        F.floor("o_totalprice").cast("double").alias("floor_price"),
        F.ceil("o_totalprice").cast("double").alias("ceil_price"),
        F.when(F.col("o_totalprice") > 250000, "big").otherwise("small").alias("size_class"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias("status_or_open"),
    )


# --- correlated scalar subquery / HAVING ---

@query(
    "q_having_subquery",
    bench=False,
    oracle="""
    SELECT l_suppkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM lineitem
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,6))) >
           (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,6))) / COUNT(*) FROM orders)
    ORDER BY l_suppkey
    """,
)
def q_having_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold kept in exact decimal on both sides (DuckDB AVG(decimal)
    # returns DOUBLE, so the oracle spells avg as SUM/COUNT to stay exact —
    # a boundary row must compare identically in both engines).
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    threshold_df = o.agg(
        (F.sum(_dec(F.col("o_totalprice"))) / F.count("*")).alias("t")
    )
    return (
        li.groupBy("l_suppkey")
        .agg(F.sum(_dec(F.col("l_extendedprice"))).alias("total_dec"))
        .join(F.broadcast(threshold_df))
        .filter(F.col("total_dec") > F.col("t"))
        .select("l_suppkey", F.col("total_dec").cast("double").alias("total"))
        .orderBy("l_suppkey")
    )


# --- correlated EXISTS / NOT EXISTS ---

@query(
    "q_exists_correlated",
    bench=False,
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                        AND o.o_totalprice < 50000)
    ORDER BY c_custkey
    """,
)
def q_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS/NOT EXISTS — planned as a semi-join plus an
    anti-join on the correlation key (what Catalyst rewrites the subqueries
    to anyway; spelled directly so the join strategy is explicit)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    cheap_f = o.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000)
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(big, "c_custkey", "left_semi")
        .join(cheap_f, "c_custkey", "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --- scalar subquery in the SELECT list ---

@query(
    "q_scalar_subquery",
    bench=False,
    oracle="""
    SELECT n_name,
           (SELECT COUNT(*) FROM customer c JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE n2.n_name = n.n_name) AS n_customers
    FROM nation n
    ORDER BY n_name
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row scalar subquery -> broadcast left join against the
    pre-aggregated subquery result (the decorrelated form)."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey").agg(F.count("*").alias("cnt"))
    return (
        n.join(F.broadcast(counts), n.n_nationkey == counts.c_nationkey, "left")
        .select("n_name", F.coalesce(F.col("cnt"), F.lit(0)).alias("n_customers"))
        .orderBy("n_name")
    )


# --- pivot / conditional aggregation ---

@query(
    "q_pivot_status",
    bench=False,
    oracle="""
    SELECT o_custkey,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS filled_value
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (one pass, map-side combinable —
    the scale-safe spelling of df.groupBy().pivot() with known keys)."""
    o = load_table(spark, sf_dir, "orders")
    def cnt(status):
        return F.count(F.when(F.col("o_orderstatus") == status, 1))
    return (
        o.groupBy("o_custkey")
        .agg(
            cnt("O").alias("n_open"),
            cnt("F").alias("n_filled"),
            cnt("P").alias("n_partial"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", _dec(F.col("o_totalprice")))
            ).cast("double").alias("filled_value"),
        )
        .orderBy("o_custkey")
    )


# --- deep multi-join (TPC-H Q5 shape: 6 tables, local-supplier volume) ---

@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table join: the dimension chain (region->nation->supplier)
    broadcasts, the fact chain (customer->orders->lineitem) shuffles on its
    keys once each — the join-ordering workout of the inventory."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    dims = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(dims),
            (li.l_suppkey == dims.s_suppkey) & (c.c_nationkey == dims.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.sum(rev.cast("decimal(18,6)")).cast("double").alias("revenue"))
        .orderBy("n_name")
    )


# --- deterministic sketches (operators/sketches.py) ---

@query(
    "q_kmv_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT {md5_long_sql("CAST(o_custkey AS VARCHAR)")} AS h
        FROM orders
    ),
    small AS (SELECT h FROM h ORDER BY h LIMIT 256)
    SELECT COUNT(*) AS k_used, MAX(h) AS kth_hash,
           CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 255.0 * {float(HASH_DOMAIN)} / MAX(h) END AS estimate
    FROM small
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch over o_custkey — a DETERMINISTIC
    alternative to HLL approx_count_distinct: both engines keep the same
    256 smallest md5 hashes, so even the ESTIMATE hash-matches. Partial
    top-k per task means each task ships k hashes, not its data."""
    from odbc2parquet_spark.operators.sketches import kmv_distinct_estimate

    o = load_table(spark, sf_dir, "orders")
    return kmv_distinct_estimate(o)


@query(
    "q_heavy_hitters",
    oracle="""
    SELECT l_suppkey AS value, COUNT(*) AS n
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY n DESC, value
    LIMIT 10
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: map-side-combined counts + k-row ordered limit
    (count tie broken by value for a total order)."""
    from odbc2parquet_spark.operators.sketches import heavy_hitters

    li = load_table(spark, sf_dir, "lineitem")
    return heavy_hitters(li, "l_suppkey")


# --- exact percentiles (sort-based distributed quantiles) ---

@query(
    "q_percentiles",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.95), 6) AS p95,
           ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (Spark `percentile`
    == DuckDB `quantile_cont`, both rounded to 6 decimals). Exact
    quantiles sort within groups; the approx_percentile sketch is the
    no-sort alternative when error tolerance allows."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_null_ordering",
    bench=False,
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS maybe_price
    FROM orders
    WHERE o_orderkey < 2000
    ORDER BY maybe_price ASC NULLS FIRST, o_orderkey
    LIMIT 50
    """,
)
def q_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS FIRST ordering under LIMIT (sort semantics parity —
    engines default differently, so the direction is always spelled)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    maybe = F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
        F.col("o_totalprice")
    )
    return (
        o.select("o_orderkey", maybe.alias("maybe_price"))
        .orderBy(F.col("maybe_price").asc_nulls_first(), F.col("o_orderkey"))
        .limit(50)
    )


# --- TPC-H Q6 (scan-bound revenue change) and Q4 (EXISTS by priority) ---

@query(
    "q6_forecast_revenue",
    bench=False,
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
           AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive filter + one aggregate —
    the query whose whole cost is how much of the scan the pushed filters
    eliminate (all four predicates reach the parquet reader)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n"),
    )


@query(
    "q4_order_priority",
    bench=False,
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS -> semi-join on the fact table,
    then a tiny grouped count."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q14_promo_revenue",
    bench=False,
    oracle="""
    SELECT CAST(100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
           AS promo_revenue_pct,
           COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact scan (month-pruned) x broadcast part dim,
    conditional revenue ratio in exact decimals."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(zero)).cast("double")
            / F.sum(rev).cast("double")
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n"),
    )


@query(
    "q_profile_lineitem",
    bench=False,
    oracle="""
    SELECT 'l_orderkey' AS column_name,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_s,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_s
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag',
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
           MIN(l_returnflag), MAX(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate',
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
           CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR),
           CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity',
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
           NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
           NULL, NULL
    FROM lineitem
    """,
)
def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary (the ingest-quality dashboard): per-column
    null count, exact distinct count, and min/max (stringified only for
    types whose rendering is engine-stable — bigint/string/date; float
    min/max stay NULL rather than risk repr drift). ONE aggregate pass
    over the table (Spark computes all columns' metrics in a single
    partial-agg shuffle), melted to per-column rows with stack — unlike
    the oracle's five scans, which is the point: profiling N columns
    costs one pass, not N."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_returnflag", "l_shipdate", "l_quantity", "l_extendedprice"]
    aggs = []
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"null_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"dist_{c}"))
    aggs.append(F.min("l_orderkey").cast("string").alias("min_l_orderkey"))
    aggs.append(F.max("l_orderkey").cast("string").alias("max_l_orderkey"))
    aggs.append(F.min("l_returnflag").alias("min_l_returnflag"))
    aggs.append(F.max("l_returnflag").alias("max_l_returnflag"))
    aggs.append(F.min("l_shipdate").cast("date").cast("string").alias("min_l_shipdate"))
    aggs.append(F.max("l_shipdate").cast("date").cast("string").alias("max_l_shipdate"))
    one = li.agg(*aggs)
    rows = []
    for c in cols:
        has_mm = c in ("l_orderkey", "l_returnflag", "l_shipdate")
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"dist_{c}").alias("n_distinct"),
                (F.col(f"min_{c}") if has_mm else F.lit(None).cast("string")).alias("min_s"),
                (F.col(f"max_{c}") if has_mm else F.lit(None).cast("string")).alias("max_s"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


@query(
    "q_upsert_latest",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               -- integer-exact half-up on cents: ROUND(x * 1.1, 2) on the
               -- double diverges between engines at .5-cent repr ties
               CAST((CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 11 + 5)
                    // 10 AS DOUBLE) / 100 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 3
    ),
    unioned AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 1 AS src
        FROM updates
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 0 AS src
        FROM orders
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
        FROM unioned
    ) WHERE rn = 1
    """,
)
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics without a table format: base ∪ updates with a
    per-key latest-wins rank — the lakehouse upsert compaction. The
    updates batch (10% of keys, deterministically derived) overrides the
    base row; one shuffle on the merge key, and WindowGroupLimit keeps
    per-key state at 1 row through the exchange."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # integer-exact half-up on cents (mirrored in the oracle): the double
    # ROUND(x * 1.1, 2) diverges between engines at .5-cent repr ties
    updates = o.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (
            F.expr(
                "(CAST(round(o_totalprice * 100, 0) AS BIGINT) * 11 + 5) div 10"
            ).cast("double")
            / 100
        ).alias("o_totalprice"),
    )
    unioned = updates.withColumn("src", F.lit(1)).unionByName(
        o.withColumn("src", F.lit(0))
    )
    w = W.partitionBy("o_orderkey").orderBy(F.desc("src"))
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@query(
    "q_unpivot_metrics",
    oracle="""
    SELECT l_returnflag, metric,
           CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM (
        SELECT l_returnflag, 'quantity' AS metric, l_quantity AS v FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
    ) m
    GROUP BY l_returnflag, metric
    ORDER BY l_returnflag, metric
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt/unpivot (the inverse of q_pivot_status): three measure columns
    become (metric, value) rows via the built-in unpivot — ONE scan of
    the fact table (the oracle's UNION ALL form scans three times; Spark's
    Expand node multiplies rows post-scan), then a map-side-combinable
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        "l_returnflag",
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "v",
    ).withColumn("metric", F.regexp_replace("metric", "^l_", ""))
    return (
        melted.groupBy("l_returnflag", "metric")
        .agg(
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("total"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag", "metric")
    )


@query(
    "q_table_diff",
    oracle="""
    WITH v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 5
                    THEN ROUND(o_totalprice * 1.07, 2) ELSE o_totalprice END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 17 != 3
        UNION ALL
        SELECT o_orderkey + 1000000, 42.0 FROM orders WHERE o_orderkey % 29 = 7
    )
    SELECT CAST(SUM(CASE WHEN b.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
           CAST(SUM(CASE WHEN v2.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(SUM(CASE WHEN b.o_orderkey IS NOT NULL AND v2.o_orderkey IS NOT NULL
                          AND b.o_totalprice != v2.o_totalprice
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN b.o_orderkey IS NOT NULL AND v2.o_orderkey IS NOT NULL
                          AND b.o_totalprice = v2.o_totalprice
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
    FROM (SELECT o_orderkey, o_totalprice FROM orders) b
    FULL OUTER JOIN v2 ON b.o_orderkey = v2.o_orderkey
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: added/removed/changed/unchanged counts
    between two table versions (v2 derived deterministically: ~6% of keys
    dropped, ~8% repriced, ~3% inserted) via ONE full-outer join on the
    key and a single fold — the data-diff every pipeline migration runs
    before swapping a table, with no driver-side comparison."""
    base = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    kept = base.filter(F.col("o_orderkey") % 17 != 3).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 13 == 5, F.round(F.col("o_totalprice") * 1.07, 2)
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    inserted = base.filter(F.col("o_orderkey") % 29 == 7).select(
        (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
        F.lit(42.0).alias("o_totalprice"),
    )
    v2 = kept.unionByName(inserted).select(
        F.col("o_orderkey").alias("k2"), F.col("o_totalprice").alias("p2")
    )
    j = base.join(v2, base.o_orderkey == F.col("k2"), "full_outer")
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    both = base.o_orderkey.isNotNull() & F.col("k2").isNotNull()
    return j.agg(
        flag(base.o_orderkey.isNull()).alias("n_added"),
        flag(F.col("k2").isNull()).alias("n_removed"),
        flag(both & (base.o_totalprice != F.col("p2"))).alias("n_changed"),
        flag(both & (base.o_totalprice == F.col("p2"))).alias("n_unchanged"),
    )


# the fuzzy-match oracle; q_entity_resolution embeds it as a CTE
_FUZZY_ORACLE = """
    WITH probes AS (
        SELECT c_custkey AS probe_id, c_nationkey,
               substring(c_name, 1, 14)
               || translate(substring(c_name, 15, 1),
                            '0123456789', '1234567890')
               || substring(c_name, 16) AS pname
        FROM customer WHERE c_custkey % 20 = 0
    ),
    pos AS (SELECT unnest(generate_series(0, 8)) AS pos),
    pk AS (
        SELECT probe_id, pname,
               CAST(c_nationkey AS VARCHAR) || ':' || CAST(pos AS VARCHAR)
               || ':' || substring(substring(pname, 10, 9), 1, pos)
               || substring(substring(pname, 10, 9), pos + 2) AS bkey
        FROM probes CROSS JOIN pos
    ),
    mk AS (
        SELECT c_custkey AS matched_id, c_name AS mname,
               CAST(c_nationkey AS VARCHAR) || ':' || CAST(pos AS VARCHAR)
               || ':' || substring(substring(c_name, 10, 9), 1, pos)
               || substring(substring(c_name, 10, 9), pos + 2) AS bkey
        FROM customer CROSS JOIN pos
    ),
    pairs AS (
        SELECT DISTINCT probe_id, pname, matched_id, mname
        FROM pk JOIN mk USING (bkey)
    ),
    scored AS (
        SELECT probe_id, matched_id, levenshtein(pname, mname) AS distance
        FROM pairs
    )
    SELECT probe_id, matched_id, distance FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY distance, matched_id) AS rnk
        FROM scored
    ) WHERE rnk = 1
    """


@query(
    "q_fuzzy_match",
    oracle=_FUZZY_ORACLE,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution at bounded block size: a deterministically-dirtied
    probe batch (5% of customers, one digit of the name's numeric token
    rotated — a single-character typo) is matched back against the master
    customer table by minimum Levenshtein distance, with
    DELETION-NEIGHBORHOOD blocking (operators/joins.py
    deletion_blocked_fuzzy_match): every record emits 9 keys — its digit
    token with one position removed, nation-prefixed — so the typo'd probe
    still shares a key with its master while each block holds <= 10
    candidates NO MATTER the table size. This replaces the round-4 shape
    that blocked on the fixed 25-value nation key, whose blocks grew
    linearly with the data and whose pairwise pass grew quadratically
    (measured 7.1x for 10x data); here candidate volume is O(n), the join
    key is the shuffle key, and the per-probe argmin is a map-side-partial
    min(struct)."""
    from odbc2parquet_spark.operators.joins import deletion_blocked_fuzzy_match

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "tok", F.expr("substring(c_name, 10, 9)")
    )
    probes = (
        cust.filter(F.col("c_custkey") % 20 == 0)
        .withColumn(
            "c_name",
            F.concat(
                F.expr("substring(c_name, 1, 14)"),
                F.translate(
                    F.expr("substring(c_name, 15, 1)"), "0123456789", "1234567890"
                ),
                F.expr("substring(c_name, 16)"),
            ),
        )
        .withColumn("tok", F.expr("substring(c_name, 10, 9)"))
    )
    return deletion_blocked_fuzzy_match(probes, cust)


def _zorder_oracle() -> str:
    """Oracle built from the SAME expression generators as the Spark side
    (operators/clustering.py) — parity is by construction, not by hand."""
    from odbc2parquet_spark.operators.clustering import cell_sql, zorder_sql

    bits, bucket_bits = 10, 6
    cx = cell_sql("x", "mnx", "mxx", bits)
    cy = cell_sql("y", "mny", "mxy", bits)
    z = zorder_sql(cx, cy, bits, dialect="duckdb")
    return f"""
    WITH base AS (
        SELECT datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS x,
               l_partkey AS y
        FROM lineitem
    ),
    s AS (SELECT MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
          FROM base),
    k AS (SELECT x, y, {z} AS zkey FROM base CROSS JOIN s)
    SELECT CAST(zkey >> {2 * bits - bucket_bits} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(x) AS BIGINT) AS x_min,
           CAST(MAX(x) AS BIGINT) AS x_max,
           CAST(MIN(y) AS BIGINT) AS y_min,
           CAST(MAX(y) AS BIGINT) AS y_max
    FROM k GROUP BY 1
    """


@query("q_zorder_cluster", oracle=_zorder_oracle())
def q_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout certificate (operators/clustering.py): lineitem keyed
    by the Morton interleave of (ship-day, partkey), split into 64
    consecutive curve runs, each reporting its bounding rectangle. The
    reference writes row groups in fetch order (parquet_writer.rs:211-219);
    this is the layout optimizer a 100 TB table needs so parquet min/max
    stats prune BOTH a date predicate and a key predicate."""
    from odbc2parquet_spark.operators.clustering import zorder_bucket_stats

    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.to_date("l_shipdate"), F.to_date(F.lit("1995-01-01"))).alias("x"),
        F.col("l_partkey").alias("y"),
    )
    return zorder_bucket_stats(li)


@query(
    "q_dq_checks",
    oracle="""
    WITH scan AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
               CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                             OR l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
                             OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
               CAST(SUM(CASE WHEN l_returnflag IS NULL
                             OR NOT regexp_matches(l_returnflag, '^[ARN]$')
                        THEN 1 ELSE 0 END) AS BIGINT) AS v3
        FROM lineitem
    ),
    uq AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
                   AS n_violations,
               CAST(SUM(c) AS BIGINT) AS n_rows
        FROM (SELECT COUNT(*) AS c FROM lineitem
              GROUP BY l_orderkey, l_linenumber)
    ),
    ri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_violations
        FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    )
    SELECT 'not_null' AS rule, 'l_orderkey' AS "column", v0 AS n_violations,
           n_rows, v0 = 0 AS pass_ FROM scan
    UNION ALL
    SELECT 'in_range', 'l_discount', v1, n_rows, v1 = 0 FROM scan
    UNION ALL
    SELECT 'in_range', 'l_quantity', v2, n_rows, v2 = 0 FROM scan
    UNION ALL
    SELECT 'matches', 'l_returnflag', v3, n_rows, v3 = 0 FROM scan
    UNION ALL
    SELECT 'unique', 'l_orderkey,l_linenumber', n_violations, n_rows,
           n_violations = 0 FROM uq
    UNION ALL
    SELECT 'ref_integrity', 'l_orderkey', ri.n_violations, scan.n_rows,
           ri.n_violations = 0 FROM ri, scan
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/quality.dq_check): six
    rules over lineitem — null/range/pattern checks fused into ONE scan
    aggregate, key uniqueness as one groupBy, referential integrity to
    orders as one broadcast anti-join. The lakehouse constraint check the
    reference delegates to the source DBMS (it has one; a 100 TB parquet
    lake does not)."""
    from odbc2parquet_spark.operators import quality as Q

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rules = [
        Q.Rule("not_null", "l_orderkey"),
        Q.in_range("l_discount", 0.0, 0.05),
        Q.in_range("l_quantity", 1.0, 50.0),
        Q.Rule("matches", "l_returnflag", pattern="^[ARN]$"),
        Q.unique("l_orderkey", "l_linenumber"),
        Q.ref_integrity(orders),
    ]
    return Q.dq_check(li, rules)


@query(
    "q_bloom_semi_join",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
    """,
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filtered semi-join (operators/joins.bloom_semi_join):
    orders of BUILDING-segment customers, with a broadcast Bloom bitset
    (built from the customer keys) pruning the fact side BEFORE the
    exact join's exchange. Result is plan-provably identical to the
    plain semi-join — the oracle IS the plain semi-join — while at
    100 TB the fact shuffle carries matches + epsilon instead of the
    whole table."""
    from odbc2parquet_spark.operators.joins import bloom_semi_join

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return bloom_semi_join(orders, cust)


@query(
    "q_nest_order_lines",
    oracle="""
    SELECT l_orderkey AS o_key,
           COUNT(*) AS n_lines,
           md5(string_agg(CAST(l_linenumber AS VARCHAR) || ','
                          || CAST(l_partkey AS VARCHAR) || ','
                          || CAST(l_suppkey AS VARCHAR), '|'
                          ORDER BY l_linenumber, l_partkey, l_suppkey))
               AS lines_hash
    FROM lineitem
    GROUP BY 1
    """,
)
def q_nest_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalization export (operators/nesting.nest_children): each
    order's lineitems re-assembled into a sorted array<struct> — the
    nested-parquet layout the flat reference engine cannot write
    (SURVEY §1: its writer has no nested types) and the join-free shape
    document/feature stores serve from. The certificate digests the
    nested column through a canonical string (struct order = lexicographic
    on the packed fields, mirrored by the oracle's ORDER BY), proving
    membership AND order; the nested write itself is pytest-gated
    (read-back schema equality)."""
    from odbc2parquet_spark.operators.nesting import nest_children

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    nested = nest_children(li)
    return nested.select(
        F.col("l_orderkey").alias("o_key"),
        F.size("lines").cast("long").alias("n_lines"),
        F.md5(
            F.array_join(
                F.transform(
                    F.col("lines"),
                    lambda s: F.concat_ws(
                        ",",
                        s.getField("l_linenumber").cast("string"),
                        s.getField("l_partkey").cast("string"),
                        s.getField("l_suppkey").cast("string"),
                    ),
                ),
                "|",
            )
        ).alias("lines_hash"),
    )


@query(
    "q_k_anonymity",
    oracle="""
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_rows
    FROM customer
    GROUP BY 1, 2
    HAVING COUNT(*) < 8
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit (operators/quality.k_anonymity_audit): customer
    (nation, segment) quasi-identifier groups with fewer than k=8
    members — the re-identification risk surface a release gate checks
    before publishing. One map-side-combined aggregation; output is
    bounded by the number of SMALL groups, so the audit stays tiny at
    any table size."""
    from odbc2parquet_spark.operators.quality import k_anonymity_audit

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_audit(cust)


@query(
    "q_tree_closure",
    oracle="""
    WITH RECURSIVE walk(node, cur, depth) AS (
        SELECT c_custkey, c_custkey, 0 FROM customer
        UNION ALL
        SELECT node, cur // 4, depth + 1 FROM walk WHERE cur > 3
    )
    SELECT node AS custkey, CAST(cur AS BIGINT) AS root_key,
           CAST(depth AS BIGINT) AS depth
    FROM walk WHERE cur <= 3
    """,
)
def q_tree_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE parity (operators/graph.tree_ancestry): root and
    depth over a deterministic forest on the customer keys (parent =
    key div 4; keys <= 3 are roots). Spark has no WITH RECURSIVE — the
    operator answers the same closure in O(log depth) pointer-doubling
    self-joins (8 narrow shuffles cover depth 256; a literal recursive
    walk pays one pass PER LEVEL). The oracle IS DuckDB's native
    recursive CTE, so the two formulations must agree node-for-node."""
    from odbc2parquet_spark.operators.graph import tree_ancestry

    cust = load_table(spark, sf_dir, "customer")
    edges = cust.select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") <= 3, F.col("c_custkey"))
        .otherwise(F.expr("c_custkey div 4"))
        .alias("parent"),
    )
    return tree_ancestry(edges).select(
        F.col("node").alias("custkey"), "root_key", "depth"
    )


@query(
    "q_weighted_median",
    bench=False,
    oracle="""
    WITH agg AS (
        SELECT l_extendedprice AS v,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1
    ),
    c AS (
        SELECT v, w,
               SUM(w) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw,
               SUM(w) OVER () AS wt,
               COUNT(*) OVER () AS nd
        FROM agg
    )
    SELECT MIN(v) AS wmedian,
           CAST(MIN(wt) AS BIGINT) AS w_total,
           CAST(MIN(nd) AS BIGINT) AS n_distinct
    FROM c WHERE 2 * cw >= wt
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price (operators/
    drift.weighted_median): the smallest price whose cumulative quantity
    reaches half the total. The reference leaves robust statistics to the
    DBMS; here the cumulative weight is the literal-boundary two-pass
    prefix sum — values collapse to distinct (price, weight) rows first,
    so the shuffle is value-cardinality-sized, no global window, nothing
    persisted, and the half-total comparison is exact integer
    arithmetic. The oracle states the same semantics with a global
    window (fine at oracle scale)."""
    from odbc2parquet_spark.operators.drift import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(li)


@query(
    "q_skyline_parts",
    oracle="""
    SELECT p.p_partkey AS part_key, p.p_retailprice AS price,
           CAST(p.p_size AS INTEGER) AS size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY price
    """,
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of parts (minimize retail price, maximize
    size) — the preference query (operators/skyline.skyline_2d). The
    oracle is the textbook quadratic NOT EXISTS dominance test (fine at
    oracle scale); the Spark side is the two-pass literal-boundary
    decomposition — distinct-price collapse, per-bucket prefix maxima via
    a driver fold over num_buckets values, bucket-local window — with no
    quadratic shape, so a hash match certifies the decomposition against
    the definitional form. The reference delegates preference queries to
    the DBMS like everything else; this is the operator Spark itself
    lacks."""
    from odbc2parquet_spark.operators.skyline import skyline_2d

    part = load_table(spark, sf_dir, "part")
    sky = skyline_2d(part)
    return sky.select(
        F.col("p_partkey").alias("part_key"),
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("int").alias("size"),
    ).orderBy("price")


@query(
    "q_target_encode",
    oracle="""
    WITH g AS (
        SELECT SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS gs, COUNT(*) AS gn
        FROM orders
    ),
    c AS (
        SELECT o_orderpriority,
               SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS s_cat,
               COUNT(*) AS n_cat
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderkey, o_orderpriority,
           ROUND((CAST(s_cat - CAST(o_totalprice AS DECIMAL(18,6)) AS DOUBLE)
                  + 20.0 * (CAST(gs AS DOUBLE) / gn))
                 / (n_cat - 1 + 20.0), 6) AS enc_loo
    FROM orders JOIN c USING (o_orderpriority) CROSS JOIN g
    WHERE o_orderkey % 97 = 0
    """,
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe leave-one-out target encoding of o_orderpriority
    against o_totalprice (operators/encoding.target_encode_loo,
    Micci-Barreca smoothing, prior weight 20). Per-category stats come
    from a map-side-combinable groupBy broadcast back onto the row
    stream — NEVER a window partitioned by a 5-value categorical, which
    would funnel 100 TB through 5 tasks. Output thinned to
    o_orderkey % 97 for a bounded certificate."""
    from odbc2parquet_spark.operators.encoding import target_encode_loo

    orders = load_table(spark, sf_dir, "orders")
    return (
        target_encode_loo(orders)
        .filter(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey", "o_orderpriority", "enc_loo")
    )


@query(
    "q_kmv_overlap",
    oracle=f"""
    WITH ha AS (
        SELECT DISTINCT {md5_long_sql("CAST(c_custkey AS VARCHAR)")} AS h
        FROM customer ORDER BY h LIMIT 256
    ),
    hb AS (
        SELECT DISTINCT {md5_long_sql("CAST(o_custkey AS VARCHAR)")} AS h
        FROM orders ORDER BY h LIMIT 256
    ),
    u AS (
        SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb) ORDER BY h LIMIT 256
    ),
    inboth AS (SELECT h FROM ha INTERSECT SELECT h FROM hb),
    shared AS (SELECT u.h FROM u JOIN inboth USING (h)),
    s AS (
        SELECT (SELECT COUNT(*) FROM u) AS k_used,
               (SELECT MAX(h) FROM u) AS hk,
               (SELECT COUNT(*) FROM shared) AS n_shared
    )
    SELECT k_used, CAST(n_shared AS BIGINT) AS n_shared,
           ROUND(CAST(n_shared AS DOUBLE) / k_used, 6) AS jaccard_est,
           ROUND(ue, 2) AS union_est,
           ROUND((CAST(n_shared AS DOUBLE) / k_used) * ue, 2) AS inter_est
    FROM (
        SELECT k_used, n_shared,
               CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
                    ELSE 255.0 * {HASH_DOMAIN}.0 / hk END AS ue
        FROM s
    )
    """,
)
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key overlap estimation by KMV sketch algebra (operators/
    sketches.kmv_overlap_estimate, Beyer et al. 2007): |customers ∩
    ordering customers| from two 256-hash sketches — the k smallest
    hashes of the union are derivable from the two sketches alone, so
    distinct-overlap / join-selectivity estimates cost two top-k scans
    and ≤ 2k-row algebra, mergeable across partitions and ingest
    batches. Deterministic md5 hashing makes every derived ESTIMATE
    hash-match the oracle."""
    from odbc2parquet_spark.operators.sketches import kmv_overlap_estimate

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return kmv_overlap_estimate(cust, orders)


@query(
    "q_exact_median",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           ROUND(MEDIAN(l_extendedprice), 6) AS median
    FROM lineitem
    """,
)
def q_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median of l_extendedprice with no sort anywhere
    (operators/selection.kth_smallest): iterative histogram bisection —
    each round is one filtered scan + one <= 1024-row bucket reduce, the
    driver sees bucket summaries only, and the range narrows ~1024x per
    round (3-5 scans at any scale). Returns the true middle value(s),
    not an approx_percentile estimate; even-count mean matches DuckDB's
    MEDIAN convention, so the value hash-matches the oracle."""
    from odbc2parquet_spark.operators.selection import exact_median

    li = load_table(spark, sf_dir, "lineitem")
    out = exact_median(li)
    return out.select("n_rows", F.round(F.col("median"), 6).alias("median"))


@query(
    "q_entity_resolution",
    oracle="""
    WITH RECURSIVE fz AS ("""
    + _FUZZY_ORACLE
    + """
    ),
    edges AS (
        SELECT probe_id + 1000000000 AS id_a, matched_id AS id_b
        FROM fz WHERE distance <= 1
    ),
    nodes AS (
        SELECT id_a AS id FROM edges UNION SELECT id_b FROM edges
    ),
    sym AS (SELECT id_a AS src, id_b AS dst FROM edges
            UNION SELECT id_b, id_a FROM edges),
    cc(id, label) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT s.dst, c.label FROM cc c JOIN sym s ON s.src = c.id
    ),
    lab AS (
        SELECT id, MIN(label) AS entity_id FROM cc GROUP BY id
    )
    SELECT id AS record_id, entity_id, (id = entity_id) AS is_canonical
    FROM lab
    WHERE entity_id IN (SELECT entity_id FROM lab
                        GROUP BY entity_id HAVING COUNT(*) >= 2)
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: the dirtied probe batch resolves
    against the master by deletion-neighborhood blocked Levenshtein
    (q_fuzzy_match), match edges at distance <= 1 become a record graph
    (probe records offset into their own id space), and min-label
    propagation (operators/graph.duplicate_clusters — the
    oracle-certified component engine) assigns every record its
    canonical ENTITY id; only multi-member entities ship. The
    composition every MDM/dedup pipeline runs — blocking, scoring,
    clustering, canonicalization — with each stage individually
    oracle-certified and the whole chain certified here by one hash."""
    from odbc2parquet_spark.operators.graph import duplicate_clusters

    fz = q_fuzzy_match(spark, sf_dir)
    # Materialize the MATCH EDGE SET once (round 11): downstream it fans
    # out to nodes (twice via the union), both entry semi-joins and the
    # late isolated-node join inside the component engine — five-plus
    # re-evaluations of the whole blocked-Levenshtein chain in the
    # unpersisted plan (14 parquet scans / 27 exchanges; standalone
    # median 2.9s → 2.2s). The edge list is match-sized (distance <= 1
    # survivors of the probe batch), the same bounded class the dedup
    # pipelines checkpoint at the component-engine entry.
    edges = (
        fz.filter(F.col("distance") <= 1)
        .select(
            (F.col("probe_id") + F.lit(1000000000)).alias("id_a"),
            F.col("matched_id").alias("id_b"),
        )
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("id_a").alias("id"))
        .unionAll(edges.select(F.col("id_b").alias("id")))
        .distinct()
    )
    lab = duplicate_clusters(nodes, edges).select(
        F.col("id").alias("record_id"),
        F.col("cluster_id").alias("entity_id"),
        F.col("is_canonical"),
    )
    # keep multi-member entities via ONE windowed count over entity_id —
    # no join, no second evaluation of the propagation subtree, and
    # nothing driver-sized: the earlier forced broadcast of the
    # multi-member id set was bounded only by the number of resolved
    # entities (unbounded at 100 TB), and a semi-join against a
    # recomputed aggregate of `lab` evaluated the whole label-propagation
    # chain twice (measured 1.7x slower than this window at sf0.1)
    from pyspark.sql import Window as W

    w = W.partitionBy("entity_id")
    return (
        lab.withColumn("_n_", F.count("*").over(w))
        .filter(F.col("_n_") >= 2)
        .select("record_id", "entity_id", "is_canonical")
    )


@query(
    "q_l_diversity",
    oracle="""
    WITH s AS (
        SELECT c_nationkey, c_mktsegment,
               CASE WHEN c_acctbal < 0 THEN 'debt'
                    WHEN c_acctbal < 4500 THEN 'mid'
                    ELSE 'high' END AS sens
        FROM customer
    ),
    p AS (
        SELECT c_nationkey, c_mktsegment, sens, COUNT(*) AS c
        FROM s GROUP BY 1, 2, 3
    ),
    t AS (
        SELECT c_nationkey, c_mktsegment, SUM(c) AS n_rows FROM p GROUP BY 1, 2
    )
    SELECT p.c_nationkey, p.c_mktsegment,
           CAST(MAX(t.n_rows) AS BIGINT) AS n_rows,
           COUNT(*) AS distinct_sensitive,
           ROUND(-CAST(SUM(p.c * CAST(ROUND(LN(p.c / t.n_rows), 6)
                                      AS DECIMAL(18,6))) AS DOUBLE)
                 / MAX(t.n_rows), 6) + 0.0 AS entropy
    FROM p JOIN t USING (c_nationkey, c_mktsegment)
    GROUP BY p.c_nationkey, p.c_mktsegment
    HAVING COUNT(*) < 3
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (operators/quality.l_diversity_audit): customer
    (nation, segment) quasi-identifier groups whose account-balance tier
    (debt/mid/high) takes fewer than l=3 distinct values — k-anonymity's
    blind spot, where a large group still discloses its shared sensitive
    value. Entropy of the in-group sensitive distribution reported per
    failing group (exact counts, per-term rounded ln, decimal sums).
    Two map-side-combined aggregations; output bounded by failing
    groups."""
    from odbc2parquet_spark.operators.quality import l_diversity_audit

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "sens",
        F.when(F.col("c_acctbal") < 0, F.lit("debt"))
        .when(F.col("c_acctbal") < 4500, F.lit("mid"))
        .otherwise(F.lit("high")),
    )
    return l_diversity_audit(cust)


@query(
    "q_join_card_est",
    oracle=f"""
    WITH a AS (
        SELECT user_id, COUNT(*) AS fa FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ),
    b AS (
        SELECT user_id, COUNT(*) AS fb FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    u AS (
        SELECT user_id,
               {md5_long_sql("CAST(user_id AS VARCHAR)")} AS hk
        FROM (SELECT user_id FROM a UNION SELECT user_id FROM b)
    ),
    samp AS (
        SELECT user_id, hk FROM (
            SELECT user_id, hk, ROW_NUMBER() OVER (ORDER BY hk) AS rn
            FROM u
        ) WHERE rn <= 128
    ),
    tau AS (SELECT MAX(hk) AS tau, COUNT(*) AS k FROM samp),
    ssum AS (
        SELECT CAST(SUM(COALESCE(a.fa, 0) * COALESCE(b.fb, 0)) AS BIGINT)
                   AS s
        FROM samp
        LEFT JOIN a ON a.user_id = samp.user_id
        LEFT JOIN b ON b.user_id = samp.user_id
    ),
    ex AS (
        SELECT CAST(SUM(a.fa * b.fb) AS BIGINT) AS exact_card
        FROM a JOIN b ON a.user_id = b.user_id
    )
    SELECT ex.exact_card,
           CAST(t.k AS BIGINT) AS k,
           ROUND(s.s * ((t.k - 1) * {HASH_DOMAIN}.0)
                 / (CAST(t.tau AS DOUBLE) * t.k), 2) AS est_card,
           ROUND(ABS(s.s * ((t.k - 1) * {HASH_DOMAIN}.0)
                     / (CAST(t.tau AS DOUBLE) * t.k) - ex.exact_card)
                 / ex.exact_card, 6) AS rel_err
    FROM ex CROSS JOIN tau t CROSS JOIN ssum s
    """,
)
def q_join_card_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from a KMV bottom-k key sample — the
    statistic a cost-based optimizer (or a 100 TB pipeline deciding
    broadcast vs shuffle vs pre-aggregation) needs BEFORE running the
    join: |A join B| = sum over shared keys of f_A(k)*f_B(k), estimated
    from the 128 smallest-hash keys of the key-space union carrying
    their true per-side frequencies, scaled by the KMV
    distinct-estimate of the union ((k-1)*2^60/tau) over the sample
    size. The exact cardinality is computed alongside so the row
    carries its measured relative error. Deterministic: the sample is a
    pure hash function of the keys, tau and all frequencies are exact
    integers, and the estimate is one fixed arithmetic expression.
    Scale shape: two key-frequency aggregations (map-side partial), a
    bottom-128 TakeOrdered, and a 128-row join back — the estimator
    never touches the join itself; the exact side is the verification
    tier."""
    ev = load_table(spark, sf_dir, "events")

    a = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("fa"))
    )
    b = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count("*").alias("fb"))
    )
    u = (
        a.select("user_id")
        .union(b.select("user_id"))
        .distinct()
        .select("user_id", md5_long(F.col("user_id").cast("string")).alias("hk"))
    )
    samp = (
        u.withColumn("rn", F.row_number().over(W.orderBy("hk")))
        .filter(F.col("rn") <= 128)
        .select("user_id", "hk")
    )
    tau = samp.agg(F.max("hk").alias("tau"), F.count("*").alias("k"))
    ssum = (
        samp.join(a, "user_id", "left_outer")
        .join(b, "user_id", "left_outer")
        .agg(
            F.sum(
                F.coalesce(F.col("fa"), F.lit(0))
                * F.coalesce(F.col("fb"), F.lit(0))
            ).alias("s")
        )
    )
    ex = a.join(b, "user_id").agg(
        F.sum(F.col("fa") * F.col("fb")).alias("exact_card")
    )
    est = (
        F.col("s")
        * ((F.col("k") - 1) * F.lit(float(HASH_DOMAIN)))
        / (F.col("tau").cast("double") * F.col("k"))
    )
    return (
        ex.crossJoin(F.broadcast(tau))
        .crossJoin(F.broadcast(ssum))
        .select(
            "exact_card",
            F.col("k").cast("long").alias("k"),
            F.round(est, 2).alias("est_card"),
            F.round(
                F.abs(est - F.col("exact_card")) / F.col("exact_card"), 6
            ).alias("rel_err"),
        )
    )


@query(
    "q_dp_histogram",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_true
        FROM orders GROUP BY 1
    )
    SELECT o_orderpriority, n_true,
           CAST(bit_count({md5_long_sql("'dp-hist-1|' || o_orderpriority")})
                - 30 AS BIGINT) AS noise,
           n_true
           + CAST(bit_count({md5_long_sql("'dp-hist-1|' || o_orderpriority")})
                - 30 AS BIGINT) AS n_noisy
    FROM c
    """,
)
def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release via the BINOMIAL mechanism
    (Dwork et al.): each cell's true count is perturbed by
    popcount(60 md5-derived bits) - 30 ~ Binomial(60, 1/2) - 30 (sigma
    ~3.9) — the discrete noise distribution DP deployments use when
    floating Laplace samplers are unsafe. Noise here is SEEDED (salt
    'dp-hist-1') so the release is reproducible and oracle-checkable —
    the k-anonymity / l-diversity audits (q_k_anonymity, q_l_diversity)
    say what's risky to release; this is the released artifact's shape.
    One groupBy with map-side partials; noise is a per-cell scalar
    expression, exact int64 on both engines (popcount of the same 60
    bits). A production pipeline swaps the salt for a per-release secret
    and drops n_true/noise from the output; they are kept here because
    this IS the verification surface."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_true"))
    noise = (
        F.bit_count(md5_long(F.concat(F.lit("dp-hist-1|"), F.col("o_orderpriority"))))
        - 30
    ).cast("long")
    return c.select(
        "o_orderpriority",
        "n_true",
        noise.alias("noise"),
        (F.col("n_true") + noise).alias("n_noisy"),
    )
