"""Type-mapping layer vs the reference matrix (SURVEY §1)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from odbc2parquet_spark.mappings import (
    MappingOptions,
    SourceType,
    estimate_bytes_per_row,
    map_source_type,
)


@pytest.mark.parametrize(
    "st,opts,expected",
    [
        # floats (column_strategy.rs:110-115)
        (SourceType("real"), None, T.FloatType()),
        (SourceType("float", precision=20), None, T.FloatType()),
        (SourceType("float", precision=53), None, T.DoubleType()),
        (SourceType("double"), None, T.DoubleType()),
        # integers incl. unsigned tinyint (column_strategy.rs:116-154)
        (SourceType("tinyint"), None, T.ByteType()),
        (SourceType("tinyint", unsigned=True), None, T.ShortType()),
        (SourceType("smallint"), None, T.ShortType()),
        (SourceType("integer"), None, T.IntegerType()),
        (SourceType("bigint"), None, T.LongType()),
        (SourceType("bit"), None, T.BooleanType()),
        # decimal matrix (decimal.rs:42-134)
        (SourceType("decimal", precision=9, scale=0), None, T.DecimalType(9, 0)),
        (SourceType("decimal", precision=9, scale=2), None, T.DecimalType(9, 2)),
        (SourceType("decimal", precision=13, scale=3), None, T.DecimalType(13, 3)),
        (SourceType("decimal", precision=33, scale=3), None, T.DecimalType(33, 3)),
        (SourceType("decimal", precision=42, scale=3), None, T.StringType()),
        (
            SourceType("decimal", precision=9, scale=0),
            MappingOptions(avoid_decimal=True),
            T.IntegerType(),
        ),
        (
            SourceType("decimal", precision=15, scale=0),
            MappingOptions(avoid_decimal=True),
            T.LongType(),
        ),
        (
            SourceType("decimal", precision=9, scale=2),
            MappingOptions(avoid_decimal=True),
            T.StringType(),
        ),
        (
            # p=18 is the widest scale-0 decimal that becomes int64
            SourceType("decimal", precision=18, scale=0),
            MappingOptions(avoid_decimal=True),
            T.LongType(),
        ),
        (
            # p 19..38 s=0 stays decimal under avoid_decimal — the
            # reference's DecimalAsBinary arm has no avoid_decimal branch
            SourceType("decimal", precision=25, scale=0),
            MappingOptions(avoid_decimal=True),
            T.DecimalType(25, 0),
        ),
        # temporal (timestamp_precision.rs:17-23, date.rs, time.rs)
        (SourceType("date"), None, T.DateType()),
        # explicit precision 0 (datetime2(0)) is the ms tier, NOT unknown
        (SourceType("timestamp", precision=0), None, T.TimestampNTZType()),
        (SourceType("timestamp", precision=3), None, T.TimestampNTZType()),
        (SourceType("timestamp", precision=6), None, T.TimestampNTZType()),
        (SourceType("timestamp", precision=7), None, T.LongType()),
        # unknown precision defaults to the widest (ns) tier
        (SourceType("timestamp"), None, T.LongType()),
        (SourceType("datetimeoffset", precision=7), None, T.TimestampType()),
        (SourceType("time", precision=0), None, T.IntegerType()),
        (SourceType("time", precision=7), None, T.LongType()),
        # text/binary/fallback
        (SourceType("varchar", length=100), None, T.StringType()),
        (SourceType("binary", length=5), None, T.BinaryType()),
        (SourceType("varbinary"), None, T.BinaryType()),
        (SourceType("weird_vendor_type"), None, T.StringType()),
    ],
)
def test_type_dispatch(st, opts, expected):
    assert map_source_type(st, opts).spark_type == expected


def test_bytes_per_row_estimate():
    schema = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("c", T.StringType()),
        ]
    )
    assert estimate_bytes_per_row(schema) == 4 + 8 + 4096


def test_bytes_per_row_length_limit_caps_strings():
    schema = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("s", T.StringType()),
            T.StructField("b", T.BinaryType()),
        ]
    )
    # the limit caps strings only: apply_mapping_options enforces it on
    # strings, while binary lengths stay unchecked
    assert estimate_bytes_per_row(schema, length_limit=64) == 4 + 64 + 4096
    assert estimate_bytes_per_row(schema) == 4 + 4096 + 4096


def test_time_text_to_int(spark):
    from odbc2parquet_spark.functions.timeutil import int_to_time_text, time_text_to_int

    df = spark.createDataFrame(
        [("00:05:34",), ("03:54:12.123456789",), ("23:59:59.9",), (None,)], ["t"]
    )
    out = df.select(
        time_text_to_int(F.col("t"), "ns").alias("ns"),
        time_text_to_int(F.col("t"), "us").alias("us"),
        time_text_to_int(F.col("t"), "ms").alias("ms"),
    ).collect()
    # reference golden: 00:05:34 -> 334000000000 ns (tests/integration.rs:400)
    assert out[0].ns == 334_000_000_000
    assert out[0].us == 334_000_000
    assert out[0].ms == 334_000
    # fraction digits truncate, not round (time.rs:121-139)
    assert out[1].ns == ((3 * 3600 + 54 * 60 + 12) * 10**9) + 123_456_789
    assert out[1].us == ((3 * 3600 + 54 * 60 + 12) * 10**6) + 123_456
    assert out[2].ms == ((23 * 3600 + 59 * 60 + 59) * 1000) + 900
    assert out[3].ns is None
    # roundtrip formatting (write-back direction, input.rs:767-793)
    rt = (
        spark.createDataFrame([(334_000_000,)], ["us"])
        .select(int_to_time_text(F.col("us"), "us").alias("t"))
        .collect()
    )
    assert rt[0].t == "00:05:34.000000"


def test_timestamp_ns_range_error(spark):
    from odbc2parquet_spark.mappings import map_source_type

    m = map_source_type(SourceType("timestamp", precision=7))
    ok = spark.createDataFrame([("2020-09-16 03:54:12",)], ["t"]).select(
        m.apply(F.col("t").cast("timestamp")).alias("ns")
    )
    assert ok.collect()[0].ns == 1_600_228_452_000_000_000
    # out of the i64-ns range (timestamp_precision.rs:69-81) -> error
    bad = spark.createDataFrame([("2263-01-01 00:00:00",)], ["t"]).select(
        m.apply(F.col("t").cast("timestamp")).alias("ns")
    )
    with pytest.raises(Exception, match="out of range|USER_RAISED"):
        bad.collect()


def test_ns_min_boundary_does_not_overflow_i64():
    # ceil(i64::MIN/1000): the old floor value passed the micros check but
    # *1000 overflowed int64
    from odbc2parquet_spark.mappings import NS_MIN_MICROS, NS_MAX_MICROS

    assert NS_MIN_MICROS * 1000 >= -(2**63)
    assert (NS_MIN_MICROS - 1) * 1000 < -(2**63)
    assert NS_MAX_MICROS * 1000 <= 2**63 - 1
