"""As-of (point-in-time) join — an operator Spark's API lacks.

``asof_join(left, right)`` attaches to every left row the most
recent right row with the same key and timestamp <= the left timestamp —
the time-series join (trades->quotes, events->latest-state).

Spark-first design: NOT the naive theta-join
(``l.key = r.key AND r.ts <= l.ts`` + argmax), which explodes to
O(|left| x |matching right|) pairs before pruning. Instead the classic
union-merge formulation:

1. tag and union both inputs (narrow, no shuffle),
2. one shuffle+sort on (key, ts, side) — right rows sort before left rows
   at equal ts so "<=" semantics fall out of the order,
3. ``last_value(right payload, ignoreNulls) OVER (PARTITION BY key
   ORDER BY ts, side ROWS UNBOUNDED PRECEDING)`` carries the latest right
   row forward,
4. keep left rows.

Cost: ONE shuffle of |left|+|right| rows and a per-partition sort —
exactly a sort-merge join's cost, independent of time-overlap fan-out.
Window state is one row, so a hot key degrades to a sequential scan of
that key's rows (spilled by WindowExec), never a quadratic blow-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, direction: str = "backward") -> DataFrame:
    """Left as-of join: every ``left`` row + the latest ``right`` row with
    the same ``user_id`` and a ``ts`` <= the left ``ts`` (nulls when none).

    ``direction="forward"`` mirrors it: the EARLIEST right row with
    ``ts`` >= the left ``ts`` — the next-event lookup (click -> next
    purchase, order -> next restock). Same single-shuffle union-merge
    plan; only the side tags and the window direction flip.

    Right payload columns (everything except user_id/ts) come back
    prefixed with ``r_``; ``r_ts`` is the matched timestamp.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"asof_join direction must be backward/forward, got {direction!r}")
    r_payload = [c for c in right.columns if c not in ("user_id", "ts")]
    l_cols = [c for c in left.columns]

    # at equal ts the right row must be inside the left row's window:
    # backward windows look back, so right sorts first; forward windows
    # look ahead, so right sorts last.
    r_side, l_side = (0, 1) if direction == "backward" else (1, 0)
    r_tagged = right.select(
        F.col("user_id").alias("__k"),
        F.col("ts").alias("__ts"),
        F.lit(r_side).alias("__side"),
        F.struct(F.col("ts"), *r_payload).alias("__rv"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in l_cols],
    )
    l_tagged = left.select(
        F.col("user_id").alias("__k"),
        F.col("ts").alias("__ts"),
        F.lit(l_side).alias("__side"),
        F.lit(None).cast(r_tagged.schema["__rv"].dataType).alias("__rv"),
        *[F.col(c).alias(f"__l_{c}") for c in l_cols],
    )
    unioned = r_tagged.unionByName(l_tagged)
    # __rv as the final sort key makes "which right row wins at equal ts"
    # deterministic (struct comparison; null for left rows, ordered by side)
    if direction == "backward":
        w = (
            W.partitionBy("__k")
            .orderBy("__ts", "__side", "__rv")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        match = F.last("__rv", ignorenulls=True).over(w)
    else:
        w = (
            W.partitionBy("__k")
            .orderBy("__ts", "__side", "__rv")
            .rowsBetween(W.currentRow, W.unboundedFollowing)
        )
        match = F.first("__rv", ignorenulls=True).over(w)
    carried = unioned.withColumn("__match", match)
    out_cols = [F.col(f"__l_{c}").alias(c) for c in l_cols]
    out_cols.append(F.col("__match").getField("ts").alias("r_ts"))
    out_cols.extend(
        F.col("__match").getField(c).alias(f"r_{c}") for c in r_payload
    )
    return carried.filter(F.col("__side") == l_side).select(*out_cols)
