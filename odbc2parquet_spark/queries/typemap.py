"""Type-mapping semantics (SURVEY §1) as oracle-checked queries.

Each query exercises one band of the reference's conversion-strategy matrix
(reference src/query/column_strategy.rs:109-216, decimal matrix
src/query/decimal.rs:42-134, timestamp tiers timestamp_precision.rs:17-23,
TIME parser time.rs:37-165) end-to-end through Spark's cast/expression
machinery, with DuckDB computing the identical conversion independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odbc2parquet_spark.catalog import load_table
from odbc2parquet_spark.functions.timeutil import time_text_to_int
from odbc2parquet_spark.queries import query


@query(
    "tm_decimal_matrix",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_quantity AS DECIMAL(9,0)) AS DOUBLE)       AS dec_i32_s0,
           CAST(CAST(l_extendedprice AS DECIMAL(9,2)) AS DOUBLE)  AS dec_i32_s2,
           CAST(CAST(l_extendedprice AS DECIMAL(13,3)) AS DOUBLE) AS dec_i64,
           CAST(CAST(l_extendedprice AS DECIMAL(33,3)) AS DOUBLE) AS dec_i128,
           CAST(CAST(l_extendedprice AS DECIMAL(38,6)) AS VARCHAR) AS dec_as_text,
           CAST(l_quantity AS INTEGER) AS avoid_dec_i32,
           CAST(l_quantity AS BIGINT)  AS avoid_dec_i64
    FROM lineitem
    WHERE l_orderkey <= 200
    """,
)
def tm_decimal_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal strategy bands: i32 (p<=9), i64 (p<=18), i128/FLBA (p<=38),
    text (p>38 analogue), and --avoid-decimal integer forms
    (decimal.rs:42-134).

    Decimal columns are cast DECIMAL -> DOUBLE on BOTH sides: the conversion
    band under test is the decimal cast in the middle; the final double form
    makes the output representation-proof for external canonicalizers
    (pandas renders DuckDB decimals as float64 but Spark's as
    decimal.Decimal, so '0.4' vs '0.4000' would hash-diverge)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("decimal(9,0)").cast("double").alias("dec_i32_s0"),
        F.col("l_extendedprice").cast("decimal(9,2)").cast("double").alias("dec_i32_s2"),
        F.col("l_extendedprice").cast("decimal(13,3)").cast("double").alias("dec_i64"),
        F.col("l_extendedprice").cast("decimal(33,3)").cast("double").alias("dec_i128"),
        F.col("l_extendedprice").cast("decimal(38,6)").cast("string").alias("dec_as_text"),
        F.col("l_quantity").cast("int").alias("avoid_dec_i32"),
        F.col("l_quantity").cast("bigint").alias("avoid_dec_i64"),
    )


@query(
    "tm_timestamp_tiers",
    bench=False,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           epoch_ms(l_shipdate) AS ts_millis,
           epoch_us(l_shipdate) AS ts_micros,
           epoch_ns(l_shipdate) AS ts_nanos
    FROM lineitem
    WHERE l_orderkey <= 200
    """,
)
def tm_timestamp_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp precision tiers -> epoch ints (timestamp_precision.rs:17-23:
    p<=3 millis, p<=6 micros, p>=7 nanos; the ns tier is the reference's
    INT64 representation because no engine-native ns timestamp exists)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    ts = F.col("l_shipdate").cast("timestamp")  # NTZ -> instant (session tz UTC)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.unix_millis(ts).alias("ts_millis"),
        F.unix_micros(ts).alias("ts_micros"),
        (F.unix_micros(ts) * F.lit(1000)).alias("ts_nanos"),
    )


@query(
    "tm_date_mapping",
    bench=False,
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch,
           EXTRACT(YEAR FROM o_orderdate) AS y,
           EXTRACT(DOY FROM o_orderdate) AS doy
    FROM orders
    WHERE o_orderkey <= 300
    """,
)
def tm_date_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE -> days-since-epoch INT32 (date.rs:29-61 writes i32 days)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.datediff(d, F.lit("1970-01-01").cast("date")).cast("long").alias("days_since_epoch"),
        F.year("o_orderdate").cast("long").alias("y"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
    )


@query(
    "tm_time_of_day",
    oracle="""
    SELECT event_id,
           strftime(ts, '%H:%M:%S.%f') AS time_text,
           CAST((epoch_us(ts) - epoch_us(date_trunc('day', ts))) // 1000 AS INTEGER) AS time_ms,
           epoch_us(ts) - epoch_us(date_trunc('day', ts)) AS time_us,
           (epoch_us(ts) - epoch_us(date_trunc('day', ts))) * 1000 AS time_ns
    FROM events
    WHERE event_id < 1000
    """,
)
def tm_time_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME(p) semantics: text HH:MM:SS.f -> int since midnight in the
    reference's unit tiers (time.rs:37-165). The Spark side literally runs
    the text parser (functions/timeutil.time_text_to_int) on formatted text,
    proving the B7 conversion operator; DuckDB computes the same integers
    arithmetically."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    time_text = F.date_format("ts", "HH:mm:ss.SSSSSS")
    return ev.select(
        "event_id",
        time_text.alias("time_text"),
        time_text_to_int(time_text, "ms").alias("time_ms"),
        time_text_to_int(time_text, "us").alias("time_us"),
        time_text_to_int(time_text, "ns").alias("time_ns"),
    )


@query(
    "tm_boolean_bits",
    bench=False,
    oracle="""
    SELECT event_id,
           value > 50 AS is_high,
           CASE WHEN event_type = 'error' THEN NULL ELSE value >= 10 END AS nullable_bit
    FROM events
    WHERE event_id < 1000
    """,
)
def tm_boolean_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIT -> BOOLEAN incl. the nullable path (boolean.rs:29-52 handles
    required and optional bits; FIXTURES F6)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id",
        (F.col("value") > 50).alias("is_high"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("boolean"))
        .otherwise(F.col("value") >= 10)
        .alias("nullable_bit"),
    )


@query(
    "tm_binary_bytes",
    bench=False,
    oracle="""
    SELECT p_partkey,
           hex(encode(p_brand)) AS brand_hex,
           octet_length(encode(p_name)) AS name_len,
           hex(encode(substring(p_type, 1, 5))) AS fixed5_hex
    FROM part
    WHERE p_partkey <= 300
    """,
)
def tm_binary_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(VAR)BINARY columns travel as BinaryType; fixed-width BINARY(n) is a
    5-byte slice here (binary.rs:16-89: FLBA(n) vs BYTE_ARRAY; the physical
    choice is the writer's, values identical).

    The comparison surface is hex(bytes) strings on BOTH sides: raw binary
    columns crash pandas-based canonicalizers (bytearray is unhashable for
    factorize).  The binary conversion itself still runs through
    BinaryType inside the plan (encode -> hex), and raw-bytes semantics
    are pinned by the roundtrip pytest in tests/test_mappings.py."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return p.select(
        "p_partkey",
        F.hex(F.encode("p_brand", "utf-8")).alias("brand_hex"),
        F.octet_length(F.encode("p_name", "utf-8")).cast("long").alias("name_len"),
        F.hex(F.encode(F.substring("p_type", 1, 5), "utf-8")).alias("fixed5_hex"),
    )


@query(
    "tm_integer_widths",
    bench=False,
    oracle="""
    SELECT l_orderkey,
           CAST(l_linenumber AS TINYINT)  AS i8,
           CAST(l_linenumber AS SMALLINT) AS i16,
           CAST(l_linenumber + 200 AS SMALLINT) AS u8_as_i16,
           CAST(l_partkey AS INTEGER) AS i32,
           CAST(l_orderkey AS BIGINT) AS i64
    FROM lineitem
    WHERE l_orderkey <= 200
    """,
)
def tm_integer_widths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer width bands incl. the unsigned-TINYINT-as-wider-int rule
    (column_strategy.rs:145-154: unsigned 8-bit values exceed i8, so they
    ride in a wider signed type)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("byte").alias("i8"),
        F.col("l_linenumber").cast("short").alias("i16"),
        (F.col("l_linenumber") + 200).cast("short").alias("u8_as_i16"),
        F.col("l_partkey").cast("int").alias("i32"),
        F.col("l_orderkey").cast("bigint").alias("i64"),
    )


@query(
    "tm_float_widths",
    bench=False,
    oracle="""
    SELECT s_suppkey,
           CAST(s_acctbal AS REAL) AS f32,
           CAST(s_acctbal AS DOUBLE) AS f64
    FROM supplier
    """,
)
def tm_float_widths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL/FLOAT(p<=24) -> f32, FLOAT(p>24)/DOUBLE -> f64
    (column_strategy.rs:110-115, identical.rs memcpy strategies)."""
    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.col("s_acctbal").cast("float").alias("f32"),
        F.col("s_acctbal").cast("double").alias("f64"),
    )


@query(
    "tm_text_fallback",
    bench=False,
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS key_text,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_text,
           substring(o_orderpriority, 1, 4096) AS clamped_text
    FROM orders
    WHERE o_orderkey <= 300
    """,
)
def tm_text_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unknown-type -> UTF-8 text fallback (column_strategy.rs:224-239) and
    the column-length-limit clamp (default 4096, main.rs:140-158)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_text"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_text"),
        F.substring("o_orderpriority", 1, 4096).alias("clamped_text"),
    )


@query(
    "tm_timestamptz_utc",
    bench=False,
    oracle="""
    SELECT event_id,
           epoch_us(ts) AS instant_us,
           CAST(strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || ' +00:00' AS VARCHAR) AS dto_text
    FROM events
    WHERE event_id < 500
    """,
)
def tm_timestamptz_utc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATETIMEOFFSET semantics: text with offset -> UTC instant so ordering
    is chronological, not lexicographic (timestamp_tz.rs:37-108). The Spark
    side parses the offset text back to an instant and emits epoch micros."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    dto_text = F.concat(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"), F.lit(" +00:00"))
    parsed = F.to_timestamp(dto_text, "yyyy-MM-dd HH:mm:ss.SSSSSS XXX")
    return ev.select(
        "event_id",
        F.unix_micros(parsed).alias("instant_us"),
        dto_text.alias("dto_text"),
    )


@query(
    "tm_avoid_decimal",
    bench=False,
    oracle="""
    SELECT o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_scaled_int,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price_text
    FROM orders WHERE o_orderkey < 1000
    """,
)
def tm_avoid_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--avoid-decimal semantics as data (decimal.rs:36-49,76-81): scale-0
    decimals surface as plain integers (here: cents as BIGINT) and scaled
    decimals as text with the exact decimal rendering."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_scaled_int"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("string").alias("price_text"),
    )


@query(
    "tm_variant_json",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_min,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_max
    FROM events
    GROUP BY 1
    """,
)
def tm_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT ingestion (Spark 4's open-ended type the
    reference's flat model has no analogue for): ``parse_json`` the props
    column into a VARIANT once, then typed ``variant_get`` extractions —
    the shredded-at-read path that replaces per-access JSON string
    parsing. The oracle uses DuckDB's JSON extraction on the same paths;
    matching aggregates pin that VARIANT decoding preserves the typed
    values exactly.

    Parallelism guard: parquet packs short JSON strings ~1000 rows/KB,
    so a size-based scan split can hand ONE task a million-row parse
    (measured 50x second-decade ratio on a 4 MB/1M-row file: 2 of 32
    cores did all the parsing). When the scan yields fewer partitions
    than cores, redistribute the narrow props column first — the
    shuffle moves only the strings being parsed, and on a realistically
    laid-out 100 TB table the scan already splits and the guard is a
    no-op."""
    from odbc2parquet_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    props = ev.select("props")
    cores = spark.sparkContext.defaultParallelism
    if props.rdd.getNumPartitions() < cores:
        props = props.repartition(cores)
    v = props.select(F.parse_json(F.col("props")).alias("v"))
    k = F.variant_get(F.col("v"), "$.k", "bigint")
    return (
        v.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
        )
    )
