"""The CLI's two type-mapping rules, applied to a result's Spark schema.

The reference picks each column's conversion from ODBC result-set
metadata: kind, precision, scale and signedness (reference
src/query/column_strategy.rs:109-216). Here that choice is made before
this module sees a column: Spark's JDBC dialect maps the source's SQL
types to Catalyst types, and parquet files and temp views already carry
theirs. Two flags change a type on top of that:

- ``--avoid-decimal``: a scale-0 decimal becomes int32 (p <= 9) or int64
  (p <= 18) and a scaled one becomes text (decimal.rs:36-40); p 19..38
  stays decimal, as the reference's DecimalAsBinary arm has no
  avoid-decimal branch (decimal.rs:124).
- ``--column-length-limit``: a string longer than the limit fails with
  the column name and a remediation hint (conversion_strategy.rs:176-197),
  or is cut to the limit under ``--length-limit-action truncate``.

The rest of the reference's matrix (decimal widths, timestamp precision
tiers, TIME as integer-since-midnight, integer and float widths, binary,
the text fallback) is the JDBC dialect's, and the ``tm_*`` registry
queries (``queries/typemap.py``) check each band against DuckDB.

Two reference flags have nothing to switch here. Spark writes every
``BinaryType`` as variable-length BYTE_ARRAY, the layout
``--prefer-varbinary`` asks for (column_strategy.rs:155-162), and
``--driver-does-not-support-64bit-integers`` changes only the reference's
fetch path, not a target type (decimal.rs:86-108).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class MappingOptions:
    """Port of the reference's MappingOptions (column_strategy.rs:53-60)."""

    avoid_decimal: bool = False  # --avoid-decimal
    column_length_limit: int | None = None  # --column-length-limit analogue
    # what to do when a value exceeds column_length_limit: the reference
    # fails loudly with the column name and a remediation hint
    # (conversion_strategy.rs:176-197); "truncate" is the opt-in lossy path.
    length_limit_action: str = "error"  # "error" | "truncate"


def _avoid_decimal_type(dt: T.DecimalType) -> T.DataType:
    """The ``--avoid-decimal`` target of one decimal type."""
    if dt.scale != 0:
        return T.StringType()
    if dt.precision <= 9:
        return T.IntegerType()
    if dt.precision <= 18:
        return T.LongType()
    return dt


def _length_guard(col: Column, limit: int, column_name: str) -> Column:
    """Fail loudly when a value exceeds the length limit.

    Mirrors the reference's actionable truncation error
    (conversion_strategy.rs:176-197): names the column and points at the
    remediation flags instead of silently shortening data.
    """
    msg = F.concat(
        F.lit(
            "A field exceeds the maximum element length "
            f"({limit}) of column {column_name or '<unnamed>'!r}. "
            "The driver indicated an actual length of "
        ),
        F.length(col).cast("string"),
        F.lit(
            ". Use --column-length-limit to raise the limit, or "
            "--length-limit-action truncate to shorten values."
        ),
    )
    c = col.cast("string")
    return F.when(F.length(c) > F.lit(limit), F.raise_error(msg)).otherwise(c)


def apply_mapping_options(df, opts: MappingOptions):
    """Re-map a DataFrame's columns per the CLI mapping flags: decimals
    under ``--avoid-decimal``, strings under ``--column-length-limit``.
    Every other column passes through as it is. Purely declarative: every
    transform is a Catalyst expression, so pushdown and codegen are
    unaffected."""
    if not (opts.avoid_decimal or opts.column_length_limit):
        return df
    limit = opts.column_length_limit
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if opts.avoid_decimal and isinstance(f.dataType, T.DecimalType):
            c = c.cast(_avoid_decimal_type(f.dataType)).alias(f.name)
        elif limit and isinstance(f.dataType, T.StringType):
            if opts.length_limit_action == "truncate":
                c = F.substring(c, 1, limit).alias(f.name)
            else:
                c = _length_guard(c, limit, f.name).alias(f.name)
        cols.append(c)
    return df.select(*cols)


#: bytes-per-value estimates used for memory-bounded batch sizing, the
#: analogue of the reference's bytes-per-row computation feeding
#: BatchSizeLimit (batch_size_limit.rs:59-109). Strings are not listed:
#: :func:`estimate_bytes_per_row` charges them the length limit, the cap
#: :func:`apply_mapping_options` enforces on them.
_FIXED_WIDTH = {
    T.BooleanType: 1,
    T.ByteType: 1,
    T.ShortType: 2,
    T.IntegerType: 4,
    T.FloatType: 4,
    T.DateType: 4,
    T.LongType: 8,
    T.DoubleType: 8,
    T.TimestampType: 8,
    T.TimestampNTZType: 8,
}

#: the reference's variadic buffer cap when --column-length-limit is not
#: given (column_strategy.rs:100-107)
DEFAULT_LENGTH_LIMIT = 4096


def estimate_bytes_per_row(schema: T.StructType, length_limit: int | None = None) -> int:
    """Estimated bytes of one row. A string column costs ``length_limit``
    (--column-length-limit), or 4096 when none is given. Binary and other
    non-fixed types cost 4096: no length limit is enforced on them."""
    total = 0
    for f in schema.fields:
        w = _FIXED_WIDTH.get(type(f.dataType))
        if w is None:
            if isinstance(f.dataType, T.DecimalType):
                w = 16
            elif isinstance(f.dataType, T.StringType):
                w = length_limit or DEFAULT_LENGTH_LIMIT
            else:
                w = DEFAULT_LENGTH_LIMIT
        total += w
    return max(total, 1)
