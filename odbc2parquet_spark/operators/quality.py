"""Declarative data-quality validation (Deequ-style rule engine).

The reference trusts the remote DBMS for integrity; a 100 TB lake has no
DBMS to trust — constraint checking becomes a pipeline stage. This module
evaluates a rule list against a table and emits one row per rule:
(rule, column, n_violations, n_rows, pass_).

Scale design:
- ``not_null`` / ``in_range`` / ``matches`` rules compile to conditional
  COUNTs inside ONE aggregate over a single scan — adding a rule adds an
  expression, not a pass.
- ``unique`` compiles to one groupBy on the key with a duplicate-row sum
  (map-side partials; the only shuffle, keyed by the candidate key).
- ``ref_integrity`` compiles to a left-anti join against the dimension's
  key set (broadcast when small — dimension keys, not dimension rows).
Each rule family is a separate job only when it genuinely needs its own
shuffle topology; the scan-level rules always share one pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the quasi-identifier pair the privacy audits group customers by
_QUASI_COLS = ["c_nationkey", "c_mktsegment"]


@dataclass(frozen=True)
class Rule:
    kind: str                      # not_null | in_range | matches | unique | ref_integrity
    column: str                    # checked column (or comma-joined key)
    lo: float | None = None        # in_range
    hi: float | None = None       # in_range
    pattern: str | None = None     # matches
    ref: DataFrame | None = field(default=None, compare=False)  # ref_integrity
    ref_col: str | None = None     # ref_integrity


def in_range(column: str, lo: float, hi: float) -> Rule:
    return Rule("in_range", column, lo=lo, hi=hi)


def unique(*columns: str) -> Rule:
    return Rule("unique", ",".join(columns))


def ref_integrity(ref: DataFrame) -> Rule:
    """Every ``l_orderkey`` is an ``o_orderkey`` of ``ref``."""
    return Rule("ref_integrity", "l_orderkey", ref=ref, ref_col="o_orderkey")


def dq_check(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate every rule; return (rule, column, n_violations, n_rows,
    pass_) — deterministic, one row per rule in rule order."""
    spark = df.sparkSession
    total = F.count(F.lit(1))

    known = ("not_null", "in_range", "matches", "unique", "ref_integrity")
    unknown = [r.kind for r in rules if r.kind not in known]
    if unknown:
        raise ValueError(
            f"unknown dq rule kind(s) {unknown!r}; expected one of {known}"
        )
    if not rules:
        raise ValueError("dq_check requires at least one rule")

    scan_rules = [r for r in rules if r.kind in ("not_null", "in_range", "matches")]
    results: list[DataFrame] = []
    if scan_rules:
        aggs = [total.cast("long").alias("_n_rows")]
        for i, r in enumerate(scan_rules):
            c = F.col(r.column)
            if r.kind == "not_null":
                bad = c.isNull()
            elif r.kind == "in_range":
                bad = c.isNull() | (c < F.lit(r.lo)) | (c > F.lit(r.hi))
            else:
                bad = c.isNull() | ~c.rlike(r.pattern)
            aggs.append(F.sum(bad.cast("long")).cast("long").alias(f"_v{i}"))
        one = df.agg(*aggs)
        melted = one.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(r.kind).alias("rule"),
                        F.lit(r.column).alias("column"),
                        F.col(f"_v{i}").alias("n_violations"),
                        F.col("_n_rows").alias("n_rows"),
                    )
                    for i, r in enumerate(scan_rules)
                ])
            ).alias("s")
        ).select("s.*")
        results.append(melted)

    n_rows_df = None
    for r in rules:
        if r.kind == "unique":
            cols = [c.strip() for c in r.column.split(",")]
            dups = (
                df.groupBy(*[F.col(c) for c in cols])
                .agg(F.count("*").alias("_c"))
                .agg(
                    F.coalesce(
                        F.sum(F.when(F.col("_c") > 1, F.col("_c"))), F.lit(0)
                    )
                    .cast("long")
                    .alias("n_violations"),
                    F.sum("_c").cast("long").alias("n_rows"),
                )
            )
            results.append(
                dups.select(
                    F.lit("unique").alias("rule"),
                    F.lit(r.column).alias("column"),
                    "n_violations",
                    "n_rows",
                )
            )
        elif r.kind == "ref_integrity":
            keys = F.broadcast(
                r.ref.select(F.col(r.ref_col).alias(r.column)).distinct()
            )
            if n_rows_df is None:
                n_rows_df = df.agg(total.cast("long").alias("n_rows"))
            orphans = (
                df.join(keys, r.column, "left_anti")
                .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
                .crossJoin(n_rows_df)
            )
            results.append(
                orphans.select(
                    F.lit("ref_integrity").alias("rule"),
                    F.lit(r.column).alias("column"),
                    "n_violations",
                    "n_rows",
                )
            )

    out = results[0]
    for r_df in results[1:]:
        out = out.unionByName(r_df)
    return out.withColumn("pass_", F.col("n_violations") == 0)


def winsorize(df: DataFrame) -> DataFrame:
    """Per-``event_type`` robust outlier clipping: ``value`` clamped to that
    group's exact [5%, 95%] percentile band (winsorization — the standard
    heavy-tail taming step before scaling/averaging a feature).

    Two passes over the data, both linear: one groupBy computing the
    exact interpolated percentiles (per-group sort — the same cost
    contract as q_percentiles; swap `percentile` for `approx_percentile`
    at 100 TB when sketch error is acceptable), then the group-sized
    stats frame broadcasts back and the clamp is a codegen'd
    least/greatest expression. Percentile bounds are rounded to 6
    decimals so both engines clamp against identical thresholds
    (Spark `percentile` == DuckDB `quantile_cont`).

    Adds columns ``p_lo``, ``p_hi``, ``value_w`` (clipped value).
    """
    stats = df.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("p_lo"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p_hi"),
    )
    v = F.col("value")
    return df.join(F.broadcast(stats), "event_type").withColumn(
        "value_w", F.least(F.greatest(v, F.col("p_lo")), F.col("p_hi"))
    )


def k_anonymity_audit(df: DataFrame) -> DataFrame:
    """Privacy audit: quasi-identifier (``_QUASI_COLS``) combinations
    shared by fewer than 8 rows — the groups where an individual is
    re-identifiable by joining on those columns alone. Returns one row
    per at-risk group (the quasi values + its count); an empty result
    certifies the table 8-anonymous over the pair.

    One hash aggregation with map-side partials; the output is bounded
    by the number of SMALL groups, so at 100 TB the audit returns the
    risk surface, never the data. Suppression/generalization is the
    caller's policy decision — this operator only finds the groups.
    """
    return (
        df.groupBy(*_QUASI_COLS)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") < 8)
    )


def l_diversity_audit(df: DataFrame) -> DataFrame:
    """Privacy audit, second tier: quasi-identifier (``_QUASI_COLS``)
    groups whose SENSITIVE attribute ``sens`` takes fewer than 3 distinct
    values (Machanavajjhala et
    al.) — k-anonymity's blind spot, where a group is large enough to
    hide in but everyone in it shares the same sensitive value, so
    membership alone discloses it. Returns one row per failing group
    with its size, distinct-sensitive count, and the entropy of the
    sensitive distribution (the entropy-l-diversity strength measure);
    an empty result certifies the table 3-diverse over the pair.

    Determinism: entropy terms follow the module convention — exact
    integer counts, one ln per (group, value) rounded to 6 and
    decimal-summed, one final division. Scale shape: two hash
    aggregations ((quasi, sensitive) then quasi), both map-side partial;
    output bounded by the number of FAILING groups.
    """
    per_val = df.groupBy(*_QUASI_COLS, "sens").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = per_val.groupBy(*_QUASI_COLS).agg(F.sum("c").alias("n_rows"))
    j = per_val.join(tot, _QUASI_COLS)
    term = F.col("c") * F.round(
        F.log(F.col("c") / F.col("n_rows")), 6
    ).cast("decimal(18,6)")
    return (
        j.groupBy(*_QUASI_COLS)
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.count(F.lit(1)).alias("distinct_sensitive"),
            # + 0.0 normalizes IEEE negative zero: a single-tier group has
            # sum(term) = 0, and -0/n is -0.0 on DuckDB but 0.0 on Spark —
            # the repo's standard signed-zero pin (see monitor's corr)
            (
                F.round(
                    (-F.sum(term).cast("double")) / F.max("n_rows"), 6
                )
                + F.lit(0.0)
            ).alias("entropy"),
        )
        .filter(F.col("distinct_sensitive") < 3)
    )


def mad_outliers(df: DataFrame) -> DataFrame:
    """Robust per-``event_type`` outlier detection of ``value`` via median
    absolute deviation: flag rows with |x - median| > k * MAD (k = 4.4478 ~
    3 sigma under normality via the 1.4826 consistency constant). The robust
    twin of the z-score detector (`ev_value_anomalies`): medians don't move
    when the outliers themselves inflate the spread, so a contaminated group
    still flags correctly — the failure mode mean/std detectors have.

    Two grouped exact-percentile passes (same per-group-sort cost
    contract as winsorize — swap `percentile` for `approx_percentile`
    at 100 TB) with the group-sized stats broadcast back; the flag is a
    codegen'd comparison. Adds ``med``, ``mad``, ``value_outlier``.
    """
    v = F.col("value")
    med = df.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    j = df.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type", "med").agg(
        F.round(F.expr("percentile(abs(value - med), 0.5)"), 6).alias("mad")
    )
    return df.join(F.broadcast(mad), "event_type").withColumn(
        "value_outlier", F.abs(v - F.col("med")) > F.lit(4.4478) * F.col("mad")
    )
