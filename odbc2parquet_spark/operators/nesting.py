"""Document re-assembly: denormalize child rows into nested arrays.

The reference moves FLAT typed columns (SURVEY §1 — its parquet writer
has no nested types); Spark's parquet writer does nested struct/array
natively, so the inventory carries the denormalization export the flat
engine cannot express: one row per parent with its children embedded as
``array<struct<...>>`` — the layout document stores, feature stores and
LLM-context builders read without a join at serve time.

Scale shape: ONE shuffle on the parent key (the same exchange the
equivalent join would pay), map-side partial collect_list, deterministic
child order via array_sort (lexicographic on the struct fields, leading
with the line number) — no window, no driver involvement.
Skew caution: a parent with millions of children materializes one giant
array row; cap or bucket such parents upstream (same hot-key discipline
as the LSH buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def nest_children(children: DataFrame) -> DataFrame:
    """One row per ``l_orderkey`` with its line items packed as a sorted
    ``array<struct<l_linenumber, l_partkey, l_suppkey>>`` column
    ``lines``. Child order is the lexicographic struct order, led by
    ``l_linenumber``; deterministic regardless of partitioning."""
    packed = F.struct("l_linenumber", "l_partkey", "l_suppkey")
    return (
        children.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list(packed)).alias("lines"))
    )
