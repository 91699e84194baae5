"""Multi-touch conversion attribution as a bounded range join + credit fold.

``linear_attribution`` splits each conversion's value equally across the
same user's touch events inside a fixed look-back window — the "linear"
model of marketing attribution (first-touch / last-touch are argmin/argmax
specializations of the same joined frame).

Scale shape (the part Spark has to get right at 100 TB):

- conversions x touches is an EQUI-join on the user key with a time-range
  residual — never a theta/cross join. One shuffle per side, partitioned
  by user; per-task pair volume is bounded by one user's activity inside
  the look-back window, the same finiteness argument as a watermarked
  stream-stream interval join (streaming/transfer.py).
- the quadratic-ish pair set collapses to one row per
  (conversion, channel) BEFORE anything else happens (map-side partial
  counts), so the credit arithmetic and everything downstream is
  conversion-sized, not pair-sized.
- per-conversion totals come from a window over that collapsed frame —
  each partition holds at most |channels| rows per conversion.

Determinism: credit = value * n_channel / n_total is IEEE double
arithmetic (exact-rounded, engine-independent) cast to DECIMAL(25,12), so
downstream SUMs are order-independent — the same contract as the DSIR
lift sums (queries/textops.py).

Reference scope: pacman82/odbc2parquet delegates analytics like this to
the remote DBMS (src/main.rs query subcommand); here Spark is the engine,
so the operator inventory carries it natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: the event types shapley_attribution splits credit over
_CHANNELS = ("click", "error", "signup", "view")


def _touch_join(c: DataFrame, touches: DataFrame, channel: F.Column, how: str) -> DataFrame:
    """Conversions ``c`` (keyed ``_k``, timed ``_cts``) joined to the
    ``channel`` of each touch of the same key in the 7 days up to the
    conversion: a bounded equi+range join, never a cross join."""
    t = touches.select(
        F.col("user_id").alias("_k"),
        F.col("ts").alias("_tts"),
        channel,
    )
    return c.join(
        t,
        on=[
            c["_k"] == t["_k"],
            t["_tts"] <= c["_cts"],
            t["_tts"] >= c["_cts"] - F.expr("INTERVAL 7 days"),
        ],
        how=how,
    )


def linear_attribution(conversions: DataFrame, touches: DataFrame) -> DataFrame:
    """Credit rows for the linear attribution model.

    ``conversions`` needs (user_id, conv_id, ts, value); ``touches`` needs
    (user_id, ts, channel). A touch participates if it happened at or before
    the conversion and no earlier than 7 days before it. Conversions with
    zero in-window touches drop out (nothing to credit — count them upstream
    if the funnel report needs the orphan rate).

    Returns one row per (conversion, channel):
    ``conv_id, value, channel, n_channel, n_total, credit`` where
    ``credit`` is DECIMAL(25,12) and sums to ~value per conversion.
    """
    c = conversions.select(
        F.col("user_id").alias("_k"),
        F.col("conv_id"),
        F.col("ts").alias("_cts"),
        F.col("value"),
    )
    pairs = _touch_join(c, touches, F.col("channel"), "inner")
    per = pairs.groupBy("conv_id", "value", "channel").agg(
        F.count(F.lit(1)).alias("n_channel")
    )
    w = Window.partitionBy("conv_id")
    per = per.withColumn("n_total", F.sum("n_channel").over(w))
    return per.withColumn(
        "credit",
        (F.col("value") * F.col("n_channel") / F.col("n_total")).cast(
            "decimal(25,12)"
        ),
    )


def shapley_attribution(conversions: DataFrame, touches: DataFrame) -> DataFrame:
    """EXACT Shapley-value attribution over the lattice of coalitions of
    the c = 4 ``_CHANNELS``.

    The game: v(T) = number of conversions whose in-window touched-channel
    set is contained in T (conversions "reachable" using only the
    channels in T). The Shapley value of channel i is the weighted sum of
    its marginal contributions v(T+i) - v(T) over every coalition T not
    containing i — the unique credit split satisfying efficiency /
    symmetry / dummy. Linear attribution (above) divides by touch counts;
    Shapley divides by COALITION counts, so a channel that only ever
    co-occurs with a stronger one gets credit only where it actually
    changes reachability.

    Exactness: everything is integer. Per-conversion channel sets become
    bitmasks (bit i = ``_CHANNELS[i]``); v() is a zeta transform (subset-sum)
    over the 2^c-point lattice; the factorial weights are scaled by c! so
    every Shapley numerator is a BIGINT — the only division is the final
    presentation divide by c!.

    Scale shape: the conversions x touches pair join is the SAME bounded
    equi+range join as linear_attribution (never a cross join) and
    collapses map-side to one bitmask per conversion, then to <= 2^c mask
    counts. The lattice work (zeta transform, marginals) runs on 2^c
    rows (16) via explode over literal ranges, no join
    wider than 2^c x 2^c.

    Returns one row per channel: ``channel``, ``shapley_num`` (BIGINT,
    the Shapley value times c!), ``shapley_conversions`` (num / c!,
    rounded 6).
    """
    import math

    c_n = len(_CHANNELS)
    full = (1 << c_n) - 1
    fact = math.factorial(c_n)
    idx_expr = "CASE " + " ".join(
        f"WHEN _ch = '{ch}' THEN {i}" for i, ch in enumerate(_CHANNELS)
    ) + " END"
    w_expr = "CASE " + " ".join(
        f"WHEN bit_count(t_mask) = {s} "
        f"THEN {math.factorial(s) * math.factorial(c_n - 1 - s)}"
        for s in range(c_n)
    ) + " END"

    c = conversions.select(
        F.col("user_id").alias("_k"),
        F.col("conv_id"),
        F.col("ts").alias("_cts"),
    )
    pairs = _touch_join(c, touches, F.col("channel").alias("_ch"), "left")
    masks = pairs.groupBy("conv_id").agg(
        F.coalesce(
            F.expr(f"bit_or(shiftleft(1, {idx_expr}))"), F.lit(0)
        ).alias("mask")
    )
    cnt = masks.groupBy("mask").agg(F.count(F.lit(1)).alias("n"))
    # zeta transform: every observed mask fans out to its supersets
    # T = mask | x, x ranging over subsets of the complement — 2^c
    # literal candidates per mask, filtered, never a theta join.
    zeta = (
        cnt.withColumn(
            "x", F.explode(F.array(*[F.lit(i) for i in range(full + 1)]))
        )
        .filter(F.expr("(x & mask) = 0"))
        .groupBy(F.expr("mask | x").alias("t_mask"))
        .agg(F.sum("n").alias("v"))
    )
    vt = (
        conversions.sparkSession.range(full + 1)
        .select(F.col("id").cast("int").alias("t_mask"))
        .join(zeta, "t_mask", "left")
        .fillna(0, subset=["v"])
    )
    marg = (
        vt.withColumn(
            "i", F.explode(F.array(*[F.lit(i) for i in range(c_n)]))
        )
        .filter(F.expr("(t_mask & shiftleft(1, i)) = 0"))
        .join(
            vt.select(
                F.col("t_mask").alias("t2_mask"), F.col("v").alias("v2")
            ),
            F.expr("t2_mask = (t_mask | shiftleft(1, i))"),
        )
        .select(
            "i",
            (F.expr(w_expr) * (F.col("v2") - F.col("v"))).alias("num"),
        )
    )
    ch_expr = "CASE " + " ".join(
        f"WHEN i = {i} THEN '{ch}'" for i, ch in enumerate(_CHANNELS)
    ) + " END"
    return (
        marg.groupBy("i")
        .agg(F.sum("num").alias("shapley_num"))
        .select(
            F.expr(ch_expr).alias("channel"),
            F.col("shapley_num").cast("long"),
            F.round(F.col("shapley_num") / F.lit(float(fact)), 6).alias(
                "shapley_conversions"
            ),
        )
    )


def journey_transitions(events: DataFrame) -> DataFrame:
    """(src, dst, cnt): first-order journey transition counts — the input
    to Markov-model attribution. Each user's event stream splits into
    JOURNEYS at conversion events (a conversion closes the journey it
    belongs to); within a journey the channel sequence contributes
    'start' -> first channel, channel -> next channel, and last channel
    -> 'conv' (journey converted) or 'null' (stream ended unconverted).
    A journey that converts with no prior touch contributes
    'start' -> 'conv' (the direct-conversion mass). Ordering ties break
    on the event id, so the sequence — and therefore every count — is a
    pure function of the data.

    Scale shape: two per-user windows (journey split + sequence LEAD)
    over only channel/conversion rows, then one (src, dst) count that
    collapses map-side to at most 20 rows (4 sources x 5 destinations).
    The per-user windows are the same sessionize shape every funnel query uses —
    keyed by user, never global.
    """
    ev = events.filter(
        F.col("event_type").isin("click", "view", "signup", "purchase")
    ).select(
        F.col("user_id").alias("u"),
        F.col("ts"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("et"),
    )
    uw = Window.partitionBy("u").orderBy("ts", "eid")
    j = ev.withColumn(
        "jid",
        F.coalesce(
            F.sum(F.when(F.col("et") == "purchase", 1).otherwise(0)).over(
                uw.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    jp = j.groupBy("u", "jid").agg(
        F.max(F.when(F.col("et") == "purchase", 1).otherwise(0)).alias("has_conv")
    )
    jw = Window.partitionBy("u", "jid").orderBy("ts", "eid")
    seq = (
        j.filter(F.col("et") != "purchase")
        .withColumn("rn", F.row_number().over(jw))
        .withColumn("nxt", F.lead("et", 1).over(jw))
    )
    mid = seq.filter(F.col("nxt").isNotNull()).select(
        F.col("et").alias("src"), F.col("nxt").alias("dst")
    )
    firsts = seq.filter(F.col("rn") == 1).select(
        F.lit("start").alias("src"), F.col("et").alias("dst")
    )
    lasts = (
        seq.filter(F.col("nxt").isNull())
        .join(jp, ["u", "jid"])
        .select(
            F.col("et").alias("src"),
            F.when(F.col("has_conv") == 1, F.lit("conv"))
            .otherwise(F.lit("null"))
            .alias("dst"),
        )
    )
    n_ch = jp.join(
        seq.select("u", "jid").distinct(), ["u", "jid"], "left_anti"
    ).filter(F.col("has_conv") == 1)
    direct = n_ch.select(
        F.lit("start").alias("src"), F.lit("conv").alias("dst")
    )
    return (
        mid.unionAll(firsts)
        .unionAll(lasts)
        .unionAll(direct)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _micro_weights(events: DataFrame) -> list[tuple[str, str, int]]:
    """(src, dst, w) on the driver: the :func:`journey_transitions` table
    (at most 20 rows) with each count turned into the
    integer micro-unit weight w = cnt*10^6 div out(src), out-degrees
    taken over the full graph."""
    rows = journey_transitions(events).collect()
    out_n: dict[str, int] = {}
    for r in rows:
        out_n[r.src] = out_n.get(r.src, 0) + r.cnt
    return [(r.src, r.dst, r.cnt * 1_000_000 // out_n[r.src]) for r in rows]


def markov_removal_effect(events: DataFrame) -> DataFrame:
    """(removed, p_start_micro, removal_effect6): Markov-chain removal-
    effect attribution — the third classical model next to linear
    (ev_attribution) and Shapley (ev_shapley_attribution). The journey
    transition counts define an absorbing chain; a channel's value is how
    much the start->conversion probability DROPS when that channel is
    deleted (its inbound edges re-routed to the null absorber — users who
    would have passed through it are lost). Unlike linear/Shapley credit
    splits, removal effect prices a channel by counterfactual, so a
    channel that merely co-occurs on converting paths earns nothing
    unless paths actually route through it.

    Exactness: transition weights are integer micro-units w = cnt*10^6
    div out(src) (out-degrees from the FULL graph, the standard removal
    construction), absorption probability iterates in 10^12 micro-units
    — p'(s) = sum over edges of (w * pval(dst)) div 10^6 with pval(conv)
    = 10^12, pval(null) = 0 — a fixed 8-step truncation of
    the absorption series, every step exact int64 (w <= 1e6, p <= 1e12:
    products <= 1e18). Both the division floor and the truncation depth
    are part of the spec the oracle replays.

    Scale shape: the event stream collapses to a <= 20-row transition
    table (journey_transitions), which is collected to the driver
    (:func:`_micro_weights`); the 4 scenario remaps and the 8 rounds of
    the chain then run there in Python over a few dozen values.
    """
    # Round 11: the chain below runs ON THE DRIVER (a bounded pull, like
    # the PQ codebooks and the BPE local loop) — the iterated-join form
    # paid ~18 micro-jobs plus two eager localCheckpoints, ~50 scheduler
    # round-trips for microseconds of math (suite median 2.9s -> ~1.6s;
    # the remaining cost is journey_transitions itself, which stays
    # distributed at any corpus size).
    wlist = _micro_weights(events)
    results: list[tuple[str, int]] = []
    for removed in ("none", "click", "view", "signup"):
        edges = [
            (s, "null" if d == removed else d, w)
            for (s, d, w) in wlist
            if s != removed
        ]
        states = {s for s, _, _ in edges}
        p = {s: 0 for s in states}
        for _ in range(8):
            nxt = {s: 0 for s in states}
            for s, d, w in edges:
                pval = (
                    1_000_000_000_000
                    if d == "conv"
                    else 0 if d == "null" else p.get(d, 0)
                )
                nxt[s] += w * pval // 1_000_000
            p = nxt
        if "start" in states:
            results.append((removed, p["start"]))
    spark = events.sparkSession
    full = dict(results).get("none")
    # Zero-conversion corpus (p_full = 0): pin NULL explicitly (Spark's
    # Divide yields NULL, DuckDB IEEE division NaN/inf — same rule as
    # before the driver-side rewrite). Rounding replicates Spark's
    # round(double, 6): BigDecimal from the shortest decimal repr,
    # HALF_UP, back to double.
    import decimal

    def round6(x: float) -> float:
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    out_rows = [
        (
            removed,
            ps,
            None
            if (full is None or full == 0)
            else round6((full - ps) / full),
        )
        for removed, ps in results
    ]
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("removed", StringType()),
            StructField("p_start_micro", LongType()),
            StructField("removal_effect6", DoubleType(), True),
        ]
    )
    if full is None:
        # no 'none' start state: the joined form produced zero rows
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(out_rows, schema)


def journey_occupancy(events: DataFrame) -> DataFrame:
    """(state, visits_micro): expected VISITS per journey state under the
    first-order chain — the fundamental-matrix row for 'start' that
    completes the Markov attribution pair: removal effect prices what is
    LOST without a channel; occupancy says how much traffic flows
    THROUGH it (media planners read both). Truncated at 8
    steps: v_0 = e_start, v_{k+1}(s') = sum_s v_k(s) * P(s -> s') over
    transient states, occupancy = sum_k v_k — all in the exact integer
    micro-units of :func:`markov_removal_effect` (weights cnt*10^6 div
    out, state in 10^12 units), so both engines agree bit-for-bit.

    The occupancy accumulator rides IN the iterated frame (state, v, o),
    so each round references only its predecessor — the linear-chain
    form an unrolled SQL oracle can replay without exponential CTE
    re-expansion. Scale shape: identical to the removal-effect chain —
    the corpus collapses to the <= 20-row transition table
    before any algebra."""
    # Same round-11 driver-side rewrite as markov_removal_effect: the
    # truncated fundamental-matrix series is exact int64 arithmetic over
    # a few dozen values — the iterated-join form (8 rounds x 2 joins +
    # periodic eager localCheckpoints over a <=25-row frame) was pure
    # scheduler overhead (suite median 2.65s -> ~1.6s).
    wlist = [
        (s, d, w)
        for s, d, w in _micro_weights(events)
        if d not in ("conv", "null")
    ]
    states = sorted(
        {s for s, _, _ in wlist} | {d for _, d, _ in wlist}
    )
    v = {s: (10**12 if s == "start" else 0) for s in states}
    o = dict(v)
    for _ in range(8):
        nxt = {s: 0 for s in states}
        for s, d, w in wlist:
            nxt[d] += v[s] * w // 1_000_000
        v = nxt
        for s in states:
            o[s] += nxt[s]
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("state", StringType()),
            StructField("visits_micro", LongType()),
        ]
    )
    return events.sparkSession.createDataFrame(
        [(s, o[s]) for s in states], schema
    )
