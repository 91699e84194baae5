"""Time-to-event analytics: the Kaplan-Meier risk/hazard table.

``km_hazard_table`` turns per-subject (observed duration, event-or-censored)
rows into the life table survival analysis is built on: for every duration
with at least one event, how many subjects were still at risk, how many
converted, and the discrete hazard d/n. The cumulative KM product is a
trivial client-side fold over this table; it is NOT computed here because
a float product chain is the one step that cannot be made bit-identical
across engines (exp/log differ per libm) — the table itself is exact
integers + one final int/int division, deterministic everywhere.

Scale shape: one groupBy on duration (distinct durations are calendar-
sized, thousands at most — NOT subject-sized), then a single-partition
cumulative window over those duration rows. The subjects table never
passes through a window; at 100 TB the only wide operation is the keyed
duration count with map-side partials.

Reference scope: pacman82/odbc2parquet delegates analytics to the remote
DBMS (src/main.rs query subcommand); Spark is the engine here, so the
inventory carries the operator natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def km_hazard_table(subjects: DataFrame) -> DataFrame:
    """(t, n_risk, n_events, hazard) for every duration with >= 1 event.

    ``subjects`` holds one row per subject: ``t_obs`` (integer
    duration, e.g. days until the event or until censoring) and
    ``converted`` (true = the event happened at that duration, false =
    censored there). Standard at-risk convention: a subject censored AT
    duration t still counts in n_risk(t).
    """
    per_t = subjects.groupBy(F.col("t_obs").alias("t")).agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.col("converted").cast("long")).alias("n_events"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_t.withColumn("n_prior", F.coalesce(F.sum("n_all").over(w), F.lit(0)))
        .withColumn("n_total", F.sum("n_all").over(w_all))
        .filter(F.col("n_events") > 0)
        .select(
            "t",
            (F.col("n_total") - F.col("n_prior")).cast("long").alias("n_risk"),
            F.col("n_events").cast("long"),
            F.round(F.col("n_events") / (F.col("n_total") - F.col("n_prior")), 6)
            .alias("hazard"),
        )
        .orderBy("t")
    )


def km_survival_curve(life_table: DataFrame) -> DataFrame:
    """Kaplan-Meier survival S(t) folded onto the life table.

    The module docstring above rules out exp/log cumulative products
    (libm differs per engine); this fold avoids libm entirely. Each
    factor is one IEEE-754 double division of two exact integers
    ((n_risk - n_events) / n_risk) and the running product is a LEFT
    fold of double multiplications in ascending-t order — both
    operations are exactly-rounded and deterministic, so an oracle that
    performs the same fold (DuckDB ``list_reduce`` over the same sorted
    factor list) reproduces S(t) bit-for-bit. No randomness, no
    transcendentals.

    Scale shape: the life table is calendar-sized (distinct event
    durations), NOT subject-sized, so collapsing it to one array row
    and unrolling prefix products is O(T^2) driver-free work on a
    few-hundred-row input — constant at any corpus size. The heavy
    lifting (subject counts) already happened in ``km_hazard_table``.
    """
    arr = life_table.agg(
        F.sort_array(
            F.collect_list(F.struct("t", "n_risk", "n_events"))
        ).alias("a")
    )
    return (
        arr.select(
            F.explode(
                F.expr(
                    """
                    transform(a, (s, i) -> struct(
                        s.t AS t,
                        s.n_risk AS n_risk,
                        s.n_events AS n_events,
                        aggregate(
                            slice(a, 1, i + 1),
                            CAST(1.0 AS DOUBLE),
                            (acc, x) -> acc * ((x.n_risk - x.n_events)
                                               / CAST(x.n_risk AS DOUBLE))
                        ) AS survival))
                    """
                )
            ).alias("r")
        )
        .select("r.*")
    )
