"""The package's one hash family: md5 hex digits read as integers.

Every operator hash is md5-derived so that a DuckDB oracle can recompute
it: each Spark helper here has a DuckDB twin of the same name with a
``_sql`` suffix (``md5_long_sql`` is the same value as ``md5_long``), and
the oracles build their hashes only from those. Fifteen hex digits give a
60-bit value, so sums such as ``h1 + 7 * h2`` stay below 2^63.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the hash domain of 15 hex digits: every 60-bit hash lies in [0, 2^60)
HASH_DOMAIN = 1 << 60


def hex_long(hexd: Column | str, start: int = 1, digits: int = 15) -> Column:
    """``digits`` hex digits of ``hexd`` from 1-based ``start``, as a long."""
    return F.conv(F.substring(hexd, start, digits), 16, 10).cast("long")


def md5_long(col: Column | str, digits: int = 15) -> Column:
    """The leading ``digits`` hex digits of md5(``col``), as a long."""
    return hex_long(F.md5(col), 1, digits)


def md5_pair(col: Column) -> tuple[Column, Column]:
    """(h1, h2): the two disjoint 60-bit halves of one md5, the base pair
    of the Kirsch-Mitzenmacher family h_j = h1 + j * h2 (Kirsch and
    Mitzenmacher, "Less Hashing, Same Performance", ESA 2006)."""
    hexd = F.md5(col)
    return hex_long(hexd), hex_long(hexd, 16)


def hex_long_sql(hexd: str, start: int = 1, digits: int = 15) -> str:
    """DuckDB twin of :func:`hex_long` over the SQL expression ``hexd``."""
    return f"CAST('0x' || substring({hexd}, {start}, {digits}) AS BIGINT)"


def md5_long_sql(expr: str, digits: int = 15) -> str:
    """DuckDB twin of :func:`md5_long` over the SQL expression ``expr``."""
    return hex_long_sql(f"md5({expr})", 1, digits)
