"""Time-of-day conversion, built-ins only (no UDF in the hot path).

The reference parses MSSQL TIME text ``HH:MM:SS[.fffffffff]`` into an
integer since midnight, unit chosen by precision (reference
src/query/time.rs:37-165: hand-rolled radix-10 parser, ms/us/ns tiers, 9+
fraction digits truncated). Here the same parse is expressed as Catalyst
expressions — regexp_extract + integer arithmetic — so it stays inside
whole-stage codegen and vectorizes across a 100 TB scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TIME_RE = r"^(\d{1,2}):(\d{1,2}):(\d{1,2})(?:\.(\d+))?"

#: fraction-of-second scale per unit
_UNIT_SCALE = {"ms": 1_000, "us": 1_000_000, "ns": 1_000_000_000}


def time_text_to_int(col: Column, unit: str = "ns") -> Column:
    """``HH:MM:SS[.frac]`` text -> integer since midnight in ``unit``.

    Fraction digits beyond the unit's resolution are truncated, matching the
    reference's parser (time.rs:121-139: digits past the precision are
    dropped, not rounded). NULL and non-matching input yield NULL.
    """
    scale = _UNIT_SCALE[unit]
    digits = len(str(scale)) - 1  # 3, 6, or 9 fraction digits
    s = col.cast("string")
    h = F.regexp_extract(s, _TIME_RE, 1).cast("long")
    m = F.regexp_extract(s, _TIME_RE, 2).cast("long")
    sec = F.regexp_extract(s, _TIME_RE, 3).cast("long")
    frac_raw = F.regexp_extract(s, _TIME_RE, 4)
    # right-pad to unit digits then truncate: "5" -> 500ms; "1234567891" -> ns trunc
    frac = F.when(frac_raw == "", F.lit(0)).otherwise(
        F.substring(F.rpad(frac_raw, digits, "0"), 1, digits).cast("long")
    )
    total = (h * 3600 + m * 60 + sec) * F.lit(scale) + frac
    out = F.when(h.isNull() | m.isNull() | sec.isNull(), F.lit(None)).otherwise(total)
    return out.cast("int") if unit == "ms" else out.cast("long")


def int_to_time_text(col: Column) -> Column:
    """Microseconds since midnight -> ``hh:mm:ss.ffffff`` text.

    The write-back direction (reference src/input.rs:767-793 formats
    TIME_MICROS as ``hh:mm:ss.ffffff``).
    """
    secs = (col / F.lit(1_000_000)).cast("long")
    frac = (col % F.lit(1_000_000)).cast("long")
    h = F.lpad((secs / 3600).cast("long").cast("string"), 2, "0")
    m = F.lpad(((secs % 3600) / 60).cast("long").cast("string"), 2, "0")
    s = F.lpad((secs % 60).cast("string"), 2, "0")
    f_part = F.lpad(frac.cast("string"), 6, "0")
    return F.concat_ws("", h, F.lit(":"), m, F.lit(":"), s, F.lit("."), f_part)
