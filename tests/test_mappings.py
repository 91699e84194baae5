"""The CLI's type-mapping rules (``--avoid-decimal``,
``--column-length-limit``) and the bytes-per-row estimate."""

import datetime
import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from odbc2parquet_spark.mappings import (
    MappingOptions,
    apply_mapping_options,
    estimate_bytes_per_row,
)

#: column -> (its type, its type under --avoid-decimal, a value, that
#: value under --avoid-decimal); decimal.rs:36-40 and :124
_COLUMNS = {
    "d9_0": (T.DecimalType(9, 0), T.IntegerType(), decimal.Decimal(7), 7),
    "d15_0": (T.DecimalType(15, 0), T.LongType(), decimal.Decimal(7), 7),
    # p=18 is the widest scale-0 decimal that becomes int64
    "d18_0": (T.DecimalType(18, 0), T.LongType(), decimal.Decimal(7), 7),
    # p 19..38 s=0 stays decimal: the reference's DecimalAsBinary arm has
    # no avoid-decimal branch
    "d25_0": (T.DecimalType(25, 0), T.DecimalType(25, 0), decimal.Decimal(7), decimal.Decimal(7)),
    # scaled decimals become exact decimal text
    "d9_2": (T.DecimalType(9, 2), T.StringType(), decimal.Decimal("1.50"), "1.50"),
    "d33_3": (T.DecimalType(33, 3), T.StringType(), decimal.Decimal("-2.125"), "-2.125"),
    # a string under the limit; no flag acts on the remaining types
    "s": (T.StringType(), T.StringType(), "abc", "abc"),
    "date": (T.DateType(), T.DateType(), datetime.date(2020, 9, 16), datetime.date(2020, 9, 16)),
    "ts": (
        T.TimestampNTZType(),
        T.TimestampNTZType(),
        datetime.datetime(2020, 9, 16, 3, 54, 12),
        datetime.datetime(2020, 9, 16, 3, 54, 12),
    ),
    "tstz": (
        T.TimestampType(),
        T.TimestampType(),
        datetime.datetime(2020, 9, 16, 3, 54, 12),
        datetime.datetime(2020, 9, 16, 3, 54, 12),
    ),
    "bin": (T.BinaryType(), T.BinaryType(), b"\x00\xff", b"\x00\xff"),
    "b": (T.ByteType(), T.ByteType(), 1, 1),
    "sh": (T.ShortType(), T.ShortType(), 2, 2),
    "i": (T.IntegerType(), T.IntegerType(), 42, 42),
    "l": (T.LongType(), T.LongType(), 3, 3),
    "f": (T.FloatType(), T.FloatType(), 0.5, 0.5),
    "d": (T.DoubleType(), T.DoubleType(), 0.25, 0.25),
    "bool": (T.BooleanType(), T.BooleanType(), True, True),
}


@pytest.mark.parametrize(
    "opts",
    [
        MappingOptions(avoid_decimal=True, column_length_limit=64),
        MappingOptions(avoid_decimal=True),
        MappingOptions(column_length_limit=64, length_limit_action="truncate"),
        MappingOptions(column_length_limit=64),
    ],
    ids=["avoid-limit", "avoid", "limit-truncate", "limit"],
)
def test_apply_mapping_options_schema_and_rows(spark, opts):
    schema = T.StructType([T.StructField(n, c[0]) for n, c in _COLUMNS.items()])
    df = spark.createDataFrame([tuple(c[2] for c in _COLUMNS.values())], schema)
    out = apply_mapping_options(df, opts)
    avoid, cols = opts.avoid_decimal, _COLUMNS.values()
    assert [f.dataType for f in out.schema.fields] == [c[1] if avoid else c[0] for c in cols]
    assert tuple(out.first()) == tuple(c[3] if avoid else c[2] for c in cols)


_AVOID = MappingOptions(avoid_decimal=True)

#: (case number, the Spark type the JDBC dialect gives a source kind,
#: options, its type after apply_mapping_options); None means no
#: --avoid-decimal. The numbers are those of the reference matrix's cases
#: (column_strategy.rs, decimal.rs); the gaps are kinds no Spark type
#: reaches: decimal(p > 38), the ns and time-of-day integer tiers and the
#: unknown-kind text fallback.
_DISPATCH = [
    # floats: real, float(20), float(53), double (column_strategy.rs:110-115)
    (0, T.FloatType(), None, T.FloatType()),
    (1, T.FloatType(), None, T.FloatType()),
    (2, T.DoubleType(), None, T.DoubleType()),
    (3, T.DoubleType(), None, T.DoubleType()),
    # tinyint, unsigned tinyint, smallint, integer, bigint, bit
    # (column_strategy.rs:116-154)
    (4, T.ByteType(), None, T.ByteType()),
    (5, T.ShortType(), None, T.ShortType()),
    (6, T.ShortType(), None, T.ShortType()),
    (7, T.IntegerType(), None, T.IntegerType()),
    (8, T.LongType(), None, T.LongType()),
    (9, T.BooleanType(), None, T.BooleanType()),
    # decimals keep their type without --avoid-decimal (decimal.rs:42-134)
    (10, T.DecimalType(9, 0), None, T.DecimalType(9, 0)),
    (11, T.DecimalType(9, 2), None, T.DecimalType(9, 2)),
    (12, T.DecimalType(13, 3), None, T.DecimalType(13, 3)),
    (13, T.DecimalType(33, 3), None, T.DecimalType(33, 3)),
    (15, T.DecimalType(9, 0), _AVOID, T.IntegerType()),
    (16, T.DecimalType(15, 0), _AVOID, T.LongType()),
    (17, T.DecimalType(9, 2), _AVOID, T.StringType()),
    (18, T.DecimalType(18, 0), _AVOID, T.LongType()),
    (19, T.DecimalType(25, 0), _AVOID, T.DecimalType(25, 0)),
    # date, timestamp p0/p3/p6, datetimeoffset (timestamp_precision.rs:17-23)
    (20, T.DateType(), None, T.DateType()),
    (21, T.TimestampNTZType(), None, T.TimestampNTZType()),
    (22, T.TimestampNTZType(), None, T.TimestampNTZType()),
    (23, T.TimestampNTZType(), None, T.TimestampNTZType()),
    (26, T.TimestampType(), None, T.TimestampType()),
    # varchar(100), binary(5), varbinary
    (29, T.StringType(), None, T.StringType()),
    (30, T.BinaryType(), None, T.BinaryType()),
    (31, T.BinaryType(), None, T.BinaryType()),
]


@pytest.mark.parametrize(
    "st,opts,expected",
    [c[1:] for c in _DISPATCH],
    ids=[f"st{i}-{'opts%d' % i if o else 'None'}-expected{i}" for i, _, o, _ in _DISPATCH],
)
def test_type_dispatch(spark, st, opts, expected):
    # without --avoid-decimal the length limit is set, so the column goes
    # through the re-mapping select rather than the no-flag early return
    opts = opts or MappingOptions(column_length_limit=64)
    df = spark.createDataFrame([], T.StructType([T.StructField("c", st)]))
    assert apply_mapping_options(df, opts).schema["c"].dataType == expected

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
        .select(int_to_time_text(F.col("us")).alias("t"))
        .collect()
    )
    assert rt[0].t == "00:05:34.000000"
