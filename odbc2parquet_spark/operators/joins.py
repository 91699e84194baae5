"""Join strategies for scale: skew salting, fuzzy matching and runtime filters.

AQE's skew-join split (on in session.py) handles most skew at runtime by
splitting oversized partitions. These helpers cover what it can't:

- ``salted_join``: one key so hot that even a split partition's *build* side
  explodes (e.g. joining events to a dimension where 40% of rows share one
  key). Salting multiplies the small side by 16 and spreads the big
  side's hot key across 16 reducers — bounded memory per task by
  construction, at the cost of replicating the small side.
- ``skew_profile``: which keys would melt a reducer, and the salt that
  re-balances each.
- ``deletion_blocked_fuzzy_match``: entity resolution whose blocks stay
  bounded however large the table grows.
- ``bloom_semi_join``: a semi-join that pre-filters the big side with a
  broadcast Bloom bitset before the exact join's exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from odbc2parquet_spark.functions.hashing import md5_pair
from odbc2parquet_spark.operators.similarity import cap_buckets


def salted_join(big: DataFrame, small: DataFrame) -> DataFrame:
    """Inner equi-join on ``event_type`` with the big side's hot keys
    spread across 16 buckets.

    The big side gets a deterministic salt from ``event_id`` (a
    high-cardinality column) so one join key lands in 16 different
    reducers; the small side, a lookup table, is replicated once per salt
    value (explode of a 16-element array — rows x 16, fine for
    dimension-sized inputs). Result equals
    ``big.join(small, "event_type")`` exactly.
    """
    b = big.withColumn("__salt", F.pmod(F.hash(F.col("event_id")), F.lit(16)))
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(16)]))
    )
    return b.join(s, ["event_type", "__salt"]).drop("__salt")


def _argmin_match(scored: DataFrame) -> DataFrame:
    """(probe_id, matched_id, distance): per-probe argmin over candidate
    match rows. The min runs over a PACKED long (distance << 43 |
    matched_id) — lexicographically equal to the (distance, matched_id)
    struct-min for non-negative values,
    but a primitive long min HASH-aggregates with map-side partials
    where a struct-min forces a SortAggregate over the candidate table
    (its quadratic part). raise_error guards pin the packing bounds
    (distance < 2^20, 0 <= matched_id < 2^43) instead of silently
    corrupting the order."""
    enc = (
        F.when(
            (F.col("distance") >= F.lit(1 << 20))
            | (F.col("matched_id") < 0)
            | (F.col("matched_id") >= F.lit(1 << 43)),
            F.expr(
                "raise_error('fuzzy match argmin: distance or matched_id "
                "outside the (distance << 43 | id) packing bounds')"
            ).cast("long"),
        )
        .otherwise(
            F.col("distance").cast("long") * F.lit(1 << 43)
            + F.col("matched_id").cast("long")
        )
    )
    return (
        scored.groupBy("probe_id")
        .agg(F.min(enc).alias("best_enc"))
        .select(
            "probe_id",
            (F.col("best_enc") % F.lit(1 << 43)).alias("matched_id"),
            F.shiftright(F.col("best_enc"), 43).cast("integer").alias("distance"),
        )
    )


def deletion_blocked_fuzzy_match(
    probes: DataFrame,
    master: DataFrame,
    max_block: int | None = 50,
) -> DataFrame:
    """Entity resolution with DELETION-NEIGHBORHOOD blocking: each record
    (``c_custkey``, ``c_name``) emits 9 block keys — its 9-character
    identifying token ``tok`` with one character position removed — so a
    record with a single-character typo in the token still shares a key
    with its master, and each block holds
    at most |alphabet| candidates NO MATTER how large the table grows
    (two records share the key for position i iff they agree on every
    other token character, so a block is one token-neighborhood, not a
    population slice). This is the bounded-block fix for the classic ER
    scale failure where a coarse demographic block (nation, zip, ...)
    grows linearly with the data and pairwise work grows quadratically.

    Candidate pairs from ANY shared key are deduplicated, scored with
    full-text Levenshtein, and reduced to a per-probe argmin via the
    packed-long hash aggregate (:func:`_argmin_match`) — map-side
    partials, so the exchange carries one row per probe. ``c_nationkey``
    prefixes the keys purely for key namespacing; ``max_block`` is a
    backstop cap on master rows per key (cannot trigger for single-typo
    neighborhoods over a digit alphabet, where blocks are <= 10, but
    guards degenerate token distributions).

    Returns (probe_id, matched_id, distance).
    """

    def keyed(df: DataFrame, out_id: str, out_text: str) -> DataFrame:
        return df.select(
            F.col("c_custkey").alias(out_id),
            F.col("c_name").alias(out_text),
            F.explode(F.sequence(F.lit(0), F.lit(8))).alias("pos"),
            F.col("tok"),
            F.concat(F.col("c_nationkey").cast("string"), F.lit(":")).alias("pfx"),
        ).select(
            out_id,
            out_text,
            F.concat(
                F.col("pfx"),
                F.col("pos").cast("string"),
                F.lit(":"),
                F.expr("concat(substring(tok, 1, pos), substring(tok, pos + 2))"),
            ).alias("bkey"),
        )

    pk = keyed(probes, "probe_id", "ptext")
    mk = keyed(master, "matched_id", "mtext")
    if max_block is not None:
        mk = cap_buckets(mk, ["bkey"], max_block)
    pairs = pk.join(mk, "bkey").select(
        "probe_id", "ptext", "matched_id", "mtext"
    ).distinct()
    return _argmin_match(
        pairs.withColumn("distance", F.levenshtein(F.col("ptext"), F.col("mtext")))
    )


def skew_profile(df: DataFrame) -> DataFrame:
    """Shuffle-skew diagnostic for ``user_id`` as a prospective
    join/groupBy key: the 5 hottest keys with their share of all rows and
    the salt factor that would re-balance each across 32 reducers.

    At 100 TB the first question before any keyed operation is "which keys
    melt a reducer"; this answers it with one map-side-combined count and
    a TakeOrdered top-5 (5 rows to the driver-side reduce — never the
    key histogram itself). ``suggested_salt`` = ceil(cnt * 32 /
    total): 1 means the key fits an average reducer, s > 1 means split it
    into s sub-keys (:func:`salted_join` fans out to 16).

    All emitted ratios are exact-integer divisions cast to double, so an
    external engine reproduces them bit-for-bit. The key is emitted as a
    STRING so any join-key type (string, date, numeric, composite concat)
    survives in the profile output — a long cast would NULL every
    non-numeric hot key and collapse the diagnostic; tiebreak ordering
    still happens on the native key type before the cast.
    """
    counts = df.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    stats = counts.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(5)
    w = Window.orderBy(F.desc("cnt"), F.asc("key"))
    return (
        top.crossJoin(F.broadcast(stats))
        .withColumn("hot_rank", F.row_number().over(w))
        .select(
            "hot_rank",
            F.col("key").cast("string").alias("key"),
            F.col("cnt").cast("long").alias("cnt"),
            "total_rows",
            "n_keys",
            (F.col("cnt") * F.col("n_keys") / F.col("total_rows"))
            .cast("double")
            .alias("skew_ratio"),
            F.ceil(F.col("cnt") * F.lit(32) / F.col("total_rows"))
            .cast("long")
            .alias("suggested_salt"),
        )
    )


def bloom_semi_join(big: DataFrame, small: DataFrame) -> DataFrame:
    """Semi-join of ``big.o_custkey`` on ``small.c_custkey`` with a Bloom
    runtime filter: build a compact bitset from the small side's keys,
    pre-filter the big side AT THE SCAN (broadcast
    bitset words, no shuffle), then the exact semi-join removes the Bloom
    false positives. Result is EXACTLY ``big`` semi-join ``small`` — the
    Bloom stage only changes how many big-side rows survive to the real
    join's exchange.

    This is the optimization that matters at 100 TB: the big side's
    shuffle volume drops to (true matches + false-positive rate), while
    the filter itself costs one broadcast of 4096/32 longs. Spark's own
    runtime-filter rule does this opportunistically; making it an
    explicit operator pins the semantics.

    Hash family: md5 two-hash (h1 + j*h2) mod 4096 — the oracle-reproducible
    family every sketch in this repo uses.
    """
    def positions(key_col: F.Column) -> list[F.Column]:
        h1, h2 = md5_pair(key_col.cast("string"))
        return [(h1 + F.lit(j) * h2) % 4096 for j in range(3)]

    bloom = (
        small.select(F.explode(F.array(*positions(F.col("c_custkey")))).alias("p"))
        .select(
            (F.col("p") / 32).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(p % 32 as int))").alias("b"),
        )
        .groupBy("word")
        .agg(F.bit_or("b").alias("bits"))
    )
    # probe: k broadcast hash joins (one per hash function) — NO explode
    # and NO re-group: the first version exploded 3x rows and regrouped on
    # every big-side column (a wide-row shuffle that cost more than the
    # join it was saving); this shape adds zero exchanges to the big side
    probe = big
    conds = []
    for j, pos in enumerate(positions(F.col("o_custkey"))):
        bj = bloom.withColumnsRenamed({"word": f"_w{j}", "bits": f"_bits{j}"})
        probe = probe.withColumn(f"_p{j}", pos).join(
            F.broadcast(bj),
            (F.col(f"_p{j}") / 32).cast("long") == F.col(f"_w{j}"),
            "left_outer",
        )
        conds.append(
            F.coalesce(F.col(f"_bits{j}"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(1L, cast(_p{j} % 32 as int))")
            )
            != 0
        )
    all_set = conds[0]
    for c in conds[1:]:
        all_set = all_set & c
    hit = probe.filter(all_set).select(*big.columns)
    keys = small.select(F.col("c_custkey").alias("o_custkey")).distinct()
    return hit.join(keys, "o_custkey", "left_semi")
