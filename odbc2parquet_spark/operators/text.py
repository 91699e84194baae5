"""Text analysis operators: token counts, quality scores, language ID,
document fingerprints.

Everything is built-in Catalyst expressions (split/regexp/filter/aggregate)
— whole-stage-codegen'd, no Python in the row path. Ratios are int/int ->
double divisions (bit-deterministic in any IEEE engine); hashes are
md5-derived so the DuckDB oracle reproduces them.
"""

from __future__ import annotations

import heapq

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from odbc2parquet_spark.functions.hashing import md5_long
from odbc2parquet_spark.operators.bucketing import release_local_checkpoint

#: regex token pattern shared with the oracle: words | numbers | one symbol.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: marker stopwords per language for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "los", "que", "y", "una"),
    "fr": ("le", "la", "et", "les", "des"),
}


def words(text: Column) -> Column:
    """The non-empty pieces of ``text`` split on single spaces."""
    return F.filter(F.split(text, " "), lambda w: w != "")


def words_sql(text: str) -> str:
    """DuckDB twin of :func:`words` over the SQL expression ``text``."""
    return f"list_filter(string_split({text}, ' '), x -> x != '')"


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace tokens, regex (BPE-ish) tokens, char count per doc."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.size(words(t)).cast("long").alias("n_ws_tokens"),
        F.regexp_count(t, F.lit(TOKEN_RE)).cast("long").alias("n_re_tokens"),
        F.length(t).cast("long").alias("n_chars"),
    )


def dedup_normal_form() -> Column:
    """The canonical text form exact/near dedup hashes on (the C4 /
    Lee-et-al convention): lowercase, every non-alphanumeric run collapsed
    to a single space, ends trimmed. Case and punctuation variants of the
    same sentence map to one canonical string, so md5(dedup_normal_form)
    catches duplicates raw md5(text) misses.

    Pure built-ins (lower/regexp_replace/trim) — whole-stage-codegen'd,
    runs at scan speed. ASCII-only folding: for multilingual corpora swap
    ``lower`` for an ICU case fold upstream; the DuckDB oracle matches on
    ASCII, which is what the gate certifies.
    """
    return F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))


#: DuckDB twin of :func:`dedup_normal_form`
DEDUP_NORMAL_FORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"


def normalize_stats(docs: DataFrame) -> DataFrame:
    """Per-doc normalization report: raw vs canonical length + the
    canonical-form hash (the key exact dedup would group on)."""
    norm = dedup_normal_form()
    return docs.select(
        "doc_id",
        F.length(F.col("text")).cast("long").alias("n_chars"),
        F.length(norm).cast("long").alias("n_norm_chars"),
        F.md5(norm).alias("norm_hash"),
    )


def _quality_parts() -> dict[str, Column]:
    """The quality-signal component expressions — ONE definition shared by
    :func:`quality_score_col` (the gate) and :func:`quality_scores` (the
    report), so the published per-doc signals always explain the score
    that gated the doc."""
    t = F.col("text")
    ws = words(t)
    n_words = F.size(ws)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    stops = F.array(*[F.lit(s) for s in ("the", "a", "and", "of", "to", "in", "is")])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stops, w)))
    alpha_ratio = n_alpha / n_chars
    stop_ratio = n_stop / n_words
    mean_word_len = (n_chars - (n_words - 1)) / n_words
    score = (
        F.when(n_words >= 10, F.lit(0.25)).otherwise(F.lit(0.0))
        + alpha_ratio * F.lit(0.25)
        + stop_ratio * F.lit(0.25)
        + F.when((mean_word_len >= 3) & (mean_word_len <= 10), F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return {
        "n_words": n_words,
        "n_chars": n_chars,
        "alpha_ratio": alpha_ratio,
        "stop_ratio": stop_ratio,
        "mean_word_len": mean_word_len,
        "quality_score": score,
    }


def quality_score_col() -> Column:
    """The composite quality score as a pure Column expression.

    Exposed separately from :func:`quality_scores` so pipeline stages can
    gate on quality WITHOUT a self-join back to the scored frame — one
    scan computes the score in place (`withColumn`), which matters when
    the gate is the first stage of a long composed plan.
    """
    return _quality_parts()["quality_score"]


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality signals: length, alpha ratio, stopword ratio,
    mean word length, and a composite score.

    The composite mirrors common curation filters (C4/Gopher-style rules:
    drop too-short docs, low-stopword docs, symbol-heavy docs) as one
    deterministic expression.
    """
    p = _quality_parts()
    n_words = p["n_words"]
    n_chars = p["n_chars"]
    alpha_ratio = p["alpha_ratio"]
    stop_ratio = p["stop_ratio"]
    mean_word_len = p["mean_word_len"]
    score = p["quality_score"]
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_chars"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stop_ratio"),
        mean_word_len.alias("mean_word_len"),
        score.alias("quality_score"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language ID with deterministic argmax.

    Scores each language by marker-word hits; ties break by language code
    (so engines agree even on all-zero scores). 'und' (undetermined) when
    no marker hits at all.
    """
    t = F.col("text")
    ws = words(t)
    # array_contains(markers, w) rather than w.isin(...): lambda variables
    # inside higher-order functions don't support the isin predicate. The
    # marker list is captured via closure — pyspark derives the lambda-var
    # count from the function signature, so it must be unary.
    def marker_filter(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(s) for s in markers])
        return lambda w: F.array_contains(arr, w)

    scores = {
        lang: F.size(F.filter(ws, marker_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best_score = None
    best_lang = None
    for lang in sorted(scores):  # ascending code order => first max wins
        s = scores[lang]
        if best_score is None:
            best_score, best_lang = s, F.lit(lang)
        else:
            cond = s > best_score
            best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(cond, s).otherwise(best_score)
    pred = F.when(best_score > 0, best_lang).otherwise(F.lit("und"))
    sel = [F.col("doc_id"), pred.alias("pred_lang"), best_score.cast("long").alias("marker_hits")]
    sel += [scores[lang].cast("long").alias(f"hits_{lang}") for lang in sorted(scores)]
    return docs.select(*sel)


def fingerprints(docs: DataFrame) -> DataFrame:
    """Polynomial rolling fingerprint over the word sequence.

    acc = (acc * 31 + (md5_24bit(word))) mod 1_000_000_007 — order-sensitive
    (a permuted document fingerprints differently), overflow-free in int64,
    reproducible in any engine with md5. Left fold via F.aggregate.
    """
    ws = words(F.col("text"))
    fp = F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * F.lit(31) + md5_long(w, 6)) % F.lit(1_000_000_007),
    )
    return docs.select("doc_id", fp.alias("fingerprint"), F.size(ws).cast("long").alias("n_words"))


def bigram_surprisal(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_surprisal): corpus-statistics language-model
    score — the KenLM-style quality signal without an external model.

    Pass 1 builds the corpus word-bigram frequency table (one groupBy);
    pass 2 scores every document by the mean -ln(count/total) of its
    bigrams (a broadcast-sized join at realistic vocabularies, a shuffle
    join beyond that — Spark picks). Gibberish scores high (rare bigrams),
    fluent repeated text scores low. Deterministic: counts are integers,
    the log ratio is fixed-order arithmetic, result rounded to 6 decimals.
    """
    t = F.col("text")
    ws = words(t)
    bigram_expr = (
        "CASE WHEN size(ws) < 2 THEN array() ELSE "
        "transform(sequence(1, size(ws) - 1), i -> ws[i - 1] || ' ' || ws[i]) END"
    )
    doc_bigrams = docs.select(
        F.col("doc_id"), ws.alias("ws")
    ).select("doc_id", F.explode(F.expr(bigram_expr)).alias("bg"))
    freqs = doc_bigrams.groupBy("bg").agg(F.count("*").alias("c"))
    total = freqs.agg(F.sum("c").alias("total"))
    scored = (
        doc_bigrams.join(freqs, "bg")
        .join(F.broadcast(total))
        .withColumn("surprisal", -F.log(F.col("c") / F.col("total")))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("surprisal"), 6).alias("avg_surprisal"),
    )


#: SQL expr building the word-bigram array from a bound ``ws`` words array
#: (same short-circuit as dedup.word_shingles: sequence(1,0) descends)
_BIGRAMS = (
    "CASE WHEN size(ws) < 2 THEN array() ELSE "
    "transform(sequence(1, size(ws) - 1), "
    "i -> concat_ws(' ', ws[i - 1 + 0], ws[i - 1 + 1])) END"
)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Within-document repetition signals (Gopher-style repetition filters).

    (doc_id, n_bigrams, distinct_bigram_ratio, top_word_ratio): the
    fraction of distinct word bigrams (low = loopy/templated text) and the
    share of the most frequent word (high = degenerate repetition). All
    per-row higher-order-function arithmetic — narrow, zero shuffles, the
    cheapest quality gate to run first at 100 TB.
    """
    t = F.col("text")
    prepared = docs.select("doc_id", words(t).alias("ws"))
    bigrams = F.expr(_BIGRAMS)
    n_bigrams = F.size(bigrams)
    distinct_ratio = F.when(n_bigrams > 0, F.size(F.array_distinct(bigrams)) / n_bigrams)
    # share of the modal word: sort words, fold counting the longest run
    # (deterministic, no per-row map structures)
    sorted_ws = F.array_sort(F.col("ws"))
    top_run = F.aggregate(
        sorted_ws,
        F.struct(
            F.lit(0).cast("long").alias("best"),
            F.lit(0).cast("long").alias("run"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, w: F.struct(
            F.greatest(
                acc.getField("best"),
                F.when(acc.getField("prev") == w, acc.getField("run") + 1).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(acc.getField("prev") == w, acc.getField("run") + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            w.alias("prev"),
        ),
        lambda acc: acc.getField("best"),
    )
    n_words = F.size(F.col("ws"))
    return prepared.select(
        "doc_id",
        n_bigrams.cast("long").alias("n_bigrams"),
        F.round(distinct_ratio, 6).alias("distinct_bigram_ratio"),
        F.when(n_words > 0, F.round(top_run / n_words, 6)).alias("top_word_ratio"),
    )


def boilerplate_ngrams(docs: DataFrame) -> DataFrame:
    """Corpus-level boilerplate: word bigrams appearing in >= 35 documents
    (the C4 'repeated line' filter generalized to n-grams, since this
    corpus has no line structure).

    (g, n_docs): one explode + one groupBy on the gram — map-side partial
    counts make the shuffle carry one row per distinct (partition, gram).
    At 100 TB the output (grams above the threshold) is tiny and becomes a
    broadcast blocklist for the cleaning pass.
    """
    prepared = docs.select(F.col("doc_id"), words(F.col("text")).alias("ws"))
    grams = prepared.select(
        "doc_id", F.explode(F.array_distinct(F.expr(_BIGRAMS))).alias("g")
    )
    return (
        grams.groupBy("g")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 35)
    )


def contamination(docs: DataFrame, probes: DataFrame) -> DataFrame:
    """Benchmark-contamination check: per-document overlap with a probe
    set's word bigrams (the eval-leakage scan every training corpus needs).

    (doc_id, n_grams, n_contaminated, contamination_ratio) for every
    non-probe document. The probe gram set is DISTINCT and broadcast
    (benchmarks are tiny next to the corpus); the corpus side explodes its
    distinct grams once and left-joins the broadcast — no shuffle of the
    corpus, one groupBy back to doc granularity.
    """
    probe_grams = F.broadcast(
        probes.select(words(F.col("text")).alias("ws"))
        .select(F.explode(F.expr(_BIGRAMS)).alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probe_ids = F.broadcast(probes.select(F.col("doc_id")))
    corpus = docs.join(probe_ids, "doc_id", "left_anti")
    grams = corpus.select(
        F.col("doc_id"), words(F.col("text")).alias("ws")
    ).select("doc_id", F.explode(F.array_distinct(F.expr(_BIGRAMS))).alias("g"))
    joined = grams.join(probe_grams, "g", "left_outer")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count("*"), 6
        ).alias("contamination_ratio"),
    )


def domain_mix(docs: DataFrame) -> DataFrame:
    """Per-source mixture report: (source, n_docs, total_tokens,
    token_share) — the mixture table a training run is configured from.

    One groupBy plus a 1-row broadcast for the share denominator.
    """
    per = docs.select(F.col("source"), F.size(words(F.col("text"))).alias("n"))
    agg = per.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n").cast("long").alias("total_tokens")
    )
    total = agg.agg(F.sum("total_tokens").alias("grand"))
    return (
        agg.join(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.round(F.col("total_tokens") / F.col("grand"), 6).alias("token_share"),
        )
    )


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Split documents into overlapping token windows — the
    context-length-bounded chunking step that feeds tokenization/packing
    in a training pipeline.

    (doc_id, chunk_id, n_tokens, chunk_hash): 32-token windows start every
    24 tokens (8 tokens of overlap); the tail keeps partial chunks so no
    token is dropped. Emits md5 of the chunk text (not the text itself)
    to keep the output narrow; downstream consumers re-slice lazily from
    the source. Narrow per-row arrays + one posexplode — zero shuffles.
    """
    t = F.col("text")
    prepared = docs.select(F.col("doc_id"), words(t).alias("ws"))
    starts = F.when(
        F.size("ws") > 0, F.sequence(F.lit(1), F.size("ws"), F.lit(24))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(starts, lambda s: F.slice(F.col("ws"), s, 32))
    exploded = prepared.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk")
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_hash"),
    )


#: PII detectors shared verbatim with the DuckDB oracle — the syntax
#: subset used (char classes, bounded repeats, \b) means Java regex and
#: RE2 agree on every match. Shapes are disjoint by construction (phone
#: is 3-3-4 digit groups, SSN 3-2-4, IPv4 has three dots) so redaction
#: order cannot change the result.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_scan(docs: DataFrame) -> DataFrame:
    """Detect-and-redact pass for the standard pre-training scrub
    (emails, phone numbers, SSN-shaped ids, IPv4 addresses).

    Pure ``regexp_count`` / ``regexp_replace`` Catalyst expressions —
    whole-stage-codegen'd, embarrassingly parallel, zero shuffles; at
    100 TB this runs at scan speed alongside the quality filters. Emits
    per-kind counts plus the redacted text (each span replaced by its
    ``[KIND]`` placeholder) so downstream exact-dedup keys on scrubbed
    content. Mirrors the curation stage of public pipeline recipes
    (C4/RefinedWeb-style regex scrubbing).
    """
    t = F.col("text")
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    ]
    red = t
    for kind, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"[{kind.upper()}]")
    scanned = docs.select(F.col("doc_id"), *counts, red.alias("redacted"))
    # total = sum of the projected columns — NOT a second set of regex
    # scans (each regexp_count re-reads the full text)
    total = sum(F.col(f"n_{kind}") for kind in PII_PATTERNS)
    return scanned.select(
        "doc_id",
        *[f"n_{kind}" for kind in PII_PATTERNS],
        total.alias("n_pii_total"),
        "redacted",
    )


def tokenize_with_vocab(docs: DataFrame) -> DataFrame:
    """Corpus-driven tokenizer: build the top-16 word vocab
    (rank by frequency, ties alphabetical; ids are the rank) and encode
    every document as its id sequence (-1 for out-of-vocab).

    Emits (doc_id, n_tokens, n_oov, ids_hash) where ids_hash is md5 of
    the comma-joined id sequence — the narrow certificate that BOTH the
    vocab assignment and the per-document ordering are right, without
    shipping the arrays.

    Scale shape: word counts are one map-side-combinable groupBy; the
    rank window runs on the AGGREGATED vocab table (|vocab| rows, not the
    corpus); encoding is posexplode -> broadcast vocab join -> one
    per-doc regroup where sort_array on (pos, id) structs restores
    sequence order inside the aggregation buffer (no per-doc window).
    """
    t = F.col("text")
    tokens = docs.select(
        F.col("doc_id"), F.posexplode(words(t)).alias("pos", "w")
    )
    counts = tokens.groupBy("w").agg(F.count("*").alias("c"))
    # top-k via orderBy+limit = TakeOrderedAndProject (per-partition heap,
    # k rows to the driver-side reduce) — NOT a global window, which would
    # funnel the entire distinct-word table into one task; the rank window
    # then runs over only the 16 surviving rows
    top = counts.orderBy(F.desc("c"), F.asc("w")).limit(16)
    w_rank = Window.orderBy(F.desc("c"), F.asc("w"))
    vocab = top.withColumn("tok_id", F.row_number().over(w_rank) - 1).select(
        "w", "tok_id"
    )
    tok = tokens.join(F.broadcast(vocab), "w", "left_outer").select(
        "doc_id", "pos", F.coalesce(F.col("tok_id"), F.lit(-1)).alias("tid")
    )
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
    )
    return tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum((F.col("tid") == -1).cast("int")).cast("long").alias("n_oov"),
        F.md5(F.concat_ws(",", F.transform(seq, lambda x: x.cast("string")))).alias(
            "ids_hash"
        ),
    )


def cap_per_source(docs: DataFrame) -> DataFrame:
    """Per-domain frequency capping (the RefinedWeb/C4 "no single host
    dominates the corpus" rule): rank every document within its source by
    quality (ties broken by id) and mark the top 40 as kept.

    Emits (doc_id, source, quality_score, rk, kept) — callers filter
    ``kept`` for the capped corpus or aggregate for the audit report.

    Scale note: the per-source window is a single hash shuffle on source.
    A pathological mega-domain concentrates its rows in one partition; at
    100 TB the mitigation is a two-phase rank — pre-filter each source
    with an approximate per-source quality quantile (computed from a
    sample) so only ~40 survivors per source reach the exact window.
    The exact window stays the semantic contract either way.
    """
    scored = docs.select(
        F.col("doc_id"),
        F.col("source"),
        quality_score_col().alias("quality_score"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).withColumn(
        "kept", F.col("rk") <= F.lit(40)
    )


def _word_counts(docs: DataFrame) -> DataFrame:
    """(word, wc): each distinct whitespace word of ``docs`` and its count."""
    return (
        docs.select(F.explode(words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )


def _char_symbols(word_counts: DataFrame) -> DataFrame:
    """(wc, s): each word of ``word_counts`` split into its characters,
    the symbols every BPE learner starts from."""
    return word_counts.select(
        "wc", F.filter(F.split(F.col("word"), ""), lambda x: x != "").alias("s")
    )


def bpe_pair_counts(docs: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies — the statistic BPE tokenizer
    learning maximizes each merge round (Sennrich et al. '16).

    Scale shape: the corpus collapses FIRST to (distinct word, count) —
    one map-side-combinable groupBy; all later work is per distinct WORD
    (vocabulary-sized, not corpus-sized), which is what makes tokenizer
    training on a 100 TB corpus tractable. Symbols start as characters;
    pairs explode per word (bounded by word length) and sum weighted by
    word frequency.
    """
    sym = _char_symbols(_word_counts(docs))
    pair = F.expr(
        "CASE WHEN size(s) < 2 THEN array() ELSE "
        "transform(sequence(1, size(s) - 1), i -> struct(s[i - 1] AS a, s[i] AS b)) END"
    )
    return (
        sym.select("wc", F.explode(pair).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("wc").cast("long").alias("n"))
    )


def bpe_apply_merge(symbols: F.Column, a: str, b: str) -> F.Column:
    """Apply one BPE merge (a, b) -> ab to a symbol array, leftmost-first
    (a single left fold — the same greedy order reference BPE uses)."""
    merged = a + b
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_learn(docs: DataFrame, n_merges: int = 5) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges: each round counts adjacent pairs on
    the CURRENT symbolization of the distinct-word table and merges the
    most frequent pair (ties: lexicographic (a, b)).

    Only ONE row (the argmax pair) returns to the driver per round; the
    symbol table stays distributed and vocabulary-sized. The per-round
    argmax uses a TakeOrdered limit(1), not a global window.
    """
    sym = _char_symbols(_word_counts(docs))
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair = F.expr(
            "CASE WHEN size(s) < 2 THEN array() ELSE "
            "transform(sequence(1, size(s) - 1), i -> struct(s[i - 1] AS a, s[i] AS b)) END"
        )
        counts = (
            sym.select("wc", F.explode(pair).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wc").alias("n"))
        )
        top = counts.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))
        sym = sym.withColumn("s", bpe_apply_merge(F.col("s"), a, b))
    return merges


def _select_disjoint(
    top: list[tuple[str, str]], want: int
) -> list[tuple[str, str]]:
    """Greedy prefix of ``top`` whose symbol supports are pairwise
    disjoint, capped at ``want`` — the batch-exactness filter shared by
    the distributed and driver-local merge loops."""
    used: set[str] = set()
    selected: list[tuple[str, str]] = []
    for a, b in top:
        if len(selected) >= want:
            break
        if a in used or b in used:
            continue
        selected.append((a, b))
        used.update((a, b))
    return selected


def _bpe_local_loop(
    table: list[tuple[int, list[str]]], n_merges: int, batch: int
) -> list[tuple[str, str]]:
    """Driver-side merge loop for vocabularies under the cutover:
    bit-identical semantics to the distributed loop in
    :func:`bpe_learn_batched` (same ``8 * batch`` candidate bound, same
    (-count, a, b) order, same disjoint selection, same left-to-right
    non-overlapping batch application), minus ~0.9s of Spark job
    scheduling per round. Pinned equal to the distributed path by test.

    Vectorized form (measured 4.6s -> ~1.5s for 500 merges over the
    4,992-word sf0.1 bench vocab), provably identical to the per-word
    reference loop:

    - words are grouped by weight ONCE (weights never change); each
      group is ONE mega-string with \x01 between words, so a merge
      applies as a single C-level ``str.replace`` per group instead of
      one call per word. The pattern ``\x00a\x00\x00b\x00`` cannot
      span the ``\x01`` separator, and ``str.replace`` is left-to-right
      non-overlapping within each word — exactly the reference order;
    - the pair histogram is built once (Counter over chained zips per
      group, scaled by the group weight) and then maintained
      INCREMENTALLY: after a merge batch, only words whose string
      actually changed have their old pairs subtracted and new pairs
      added (same integer sums, different accumulation order). Entries
      driven to zero are filtered at selection time;
    - selection reads only the top ``8 * want`` candidates, so a bounded
      ``heapq.nsmallest`` replaces sorting the full histogram (the key
      carries the unique (a, b) tiebreak, so the result is exactly
      ``sorted(...)[: 8 * want]``).
    """
    from collections import Counter, defaultdict
    from itertools import chain

    # Same sentinel representation the Arrow kernel uses; same fallback
    # to the per-symbol loop when a token contains a raw NUL — or the
    # \x01 word separator, which would make mega.split("\x01") split
    # mid-word and corrupt the pair histogram.
    nul_safe = not any(
        "\x00" in t or "\x01" in t for _, s in table for t in s
    )

    if not nul_safe:
        return _bpe_local_loop_ref(table, n_merges, batch)

    def word_pairs(w: str):
        syms = w[1:-1].split("\x00\x00")
        return zip(syms, syms[1:])

    by_wc: dict[int, list[str]] = defaultdict(list)
    for wc, s in table:
        by_wc[wc].append("\x00" + "\x00\x00".join(s) + "\x00")
    groups: list[tuple[int, str]] = [
        (wc, "\x01".join(ws)) for wc, ws in by_wc.items()
    ]

    counts: Counter = Counter()
    for wc, mega in groups:
        cnt = Counter(
            chain.from_iterable(word_pairs(w) for w in mega.split("\x01"))
        )
        if wc == 1:
            counts.update(cnt)
        else:
            for p, c in cnt.items():
                counts[p] += c * wc

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        top = heapq.nsmallest(
            8 * want,
            ((p, c) for p, c in counts.items() if c > 0),
            key=lambda kv: (-kv[1], kv[0]),
        )
        if not top:
            break
        selected = _select_disjoint([p for p, _ in top], want)
        if not selected:
            break
        merges.extend(selected)
        pats = [
            (f"\x00{a}\x00\x00{b}\x00", f"\x00{a}{b}\x00")
            for a, b in selected
        ]
        next_groups: list[tuple[int, str]] = []
        for wc, mega in groups:
            new = mega
            for pat, rep in pats:
                new = new.replace(pat, rep)
            if new != mega:
                # \x01 is never created or consumed by a replace, so the
                # word sequences align 1:1; only changed words re-count
                for ow, nw in zip(mega.split("\x01"), new.split("\x01")):
                    if ow != nw:
                        for p in word_pairs(ow):
                            counts[p] -= wc
                        for p in word_pairs(nw):
                            counts[p] += wc
            next_groups.append((wc, new))
        groups = next_groups
    return merges


def _bpe_apply(syms: list[str], merges: list[tuple[str, str]]) -> list[str]:
    """``syms`` after each merge (a, b) in order, each one joining every
    adjacent a, b left to right without overlap: the per-symbol merge that
    learning and encoding share."""
    for a, b in merges:
        ab, i, res = a + b, 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                res.append(ab)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        syms = res
    return syms


def _bpe_local_loop_ref(
    table: list[tuple[int, list[str]]], n_merges: int, batch: int
) -> list[tuple[str, str]]:
    """Reference per-symbol loop — the NUL-containing-token fallback and
    the equivalence anchor for :func:`_bpe_local_loop`'s vectorized form
    (test-pinned equal on NUL-free inputs)."""
    from collections import defaultdict

    seqs = [list(s) for _, s in table]
    wcs = [wc for wc, _ in table]

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        counts: dict[tuple[str, str], int] = defaultdict(int)
        for wc, syms in zip(wcs, seqs):
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += wc
        if not counts:
            break
        top = heapq.nsmallest(
            8 * want, counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        selected = _select_disjoint([p for p, _ in top], want)
        if not selected:
            break
        merges.extend(selected)
        seqs = [_bpe_apply(syms, selected) for syms in seqs]
    return merges


def bpe_learn_batched(
    docs: DataFrame,
    n_merges: int = 50,
    batch: int = 10,
    local_vocab_cutover: int = 200_000,
) -> list[tuple[str, str]]:
    """Learn BPE merges at PRODUCTION shape: up to ``batch`` merges per
    Spark round instead of one, so a vocab-sized merge table does not
    need ``n_merges`` driver round-trips (the :func:`bpe_learn` shape is
    fine for a 5-merge statistic; a 50k-merge tokenizer build is not).

    Each round runs ONE distributed pair-count job, collects only the
    top ``8 * batch`` candidate pairs (a bounded TakeOrdered — never the
    pair histogram), greedily selects up to ``batch`` pairs whose symbol
    supports are PAIRWISE DISJOINT (count order, ties lexicographic),
    and applies the whole batch in ONE Arrow-batched pass over the
    distinct-word symbol table with the merge list shipped to executors
    as a broadcast-sized closure. Disjointness makes the batch exact
    with respect to batch-start counts: merging (a, b) cannot change the
    count of a symbol-disjoint (c, d), so every selected pair was a true
    top pair at batch start. The approximation vs. strictly-sequential
    BPE is only that pairs CREATED mid-batch wait for the next round
    ("shifted greedy"); ``batch=1`` reproduces :func:`bpe_learn` exactly
    (test-pinned). The symbol table is localCheckpointed each round so
    lineage stays flat across rounds.

    Scale cutover: BPE training is a two-regime problem. The part that
    is 100-TB-sized is the corpus -> distinct-word-count aggregation
    (one shuffle, done up front here). The merge loop itself runs on the
    VOCABULARY-sized table, and when that table is small enough to hold
    on the driver (``local_vocab_cutover`` rows — the one .count() job
    decides), iterating it as ~2x n_merges/batch Spark jobs pays ~0.45s
    of fixed scheduling per job for microseconds of work. Below the
    cutover the table is collected ONCE and the identical
    algorithm (same TakeOrdered bound, same disjoint selection, same
    left-to-right non-overlapping application) runs driver-side
    (measured: 500 merges at sf0.1, 4,992-word vocab: 33.5s
    distributed -> ~6s local, bit-identical merges — test-pinned).
    Above the cutover — a multi-million-word vocab on a real crawl —
    the distributed loop is the only thing that works, and it stays.
    """
    import pandas as pd

    words_df = _word_counts(docs)

    # Cutover decision on the word table itself (1:1 with the symbol
    # table), so the local path never builds, checkpoints or ships the
    # char-array column: two jobs over the narrow aggregate — a count
    # and a (word, wc) collect — with the symbol split done driver-side
    # (list(word) is the same code-point split as the filtered F.split).
    # Cold-path cost of the bench's 500-merge entry dropped ~1.5s.
    if words_df.count() <= local_vocab_cutover:
        rows = words_df.collect()
        return _bpe_local_loop(
            [(r.wc, list(r.word)) for r in rows], n_merges, batch
        )

    sym = _char_symbols(words_df).localCheckpoint()

    pair = F.expr(
        "CASE WHEN size(s) < 2 THEN array() ELSE "
        "transform(sequence(1, size(s) - 1), i -> struct(s[i - 1] AS a, s[i] AS b)) END"
    )

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        top = (
            sym.select("wc", F.explode(pair).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wc").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(8 * want)
            .collect()
        )
        if not top:
            break
        selected = _select_disjoint([(r.a, r.b) for r in top], want)
        if not selected:
            break
        merges.extend(selected)

        batch_merges = list(selected)  # closure-captured; broadcast-sized

        def apply_batch(batches, _m=batch_merges):
            # Vectorized merge application: each token wrapped in \x00
            # sentinels, so the pair (a, b) is the literal substring
            # "\x00a\x00\x00b\x00" -> "\x00ab\x00". pandas str.replace
            # (regex=False) is non-overlapping left-to-right — exactly
            # the single left fold's greedy order, at C speed (~10x the
            # per-symbol Python loop it replaced; 500 merges at sf0.1
            # went 55s -> bench speed). Sentinels can't occur inside a
            # token (words() splits on whitespace), but a corpus with
            # raw NUL bytes falls back to the exact per-symbol loop.
            for pdf in batches:
                seqs = pdf["s"]
                if any("\x00" in t for s in seqs for t in s):
                    out = [_bpe_apply(list(s), _m) for s in seqs]
                else:
                    joined = pd.Series(
                        ["\x00" + "\x00\x00".join(s) + "\x00" for s in seqs]
                    )
                    for a, b in _m:
                        joined = joined.str.replace(
                            f"\x00{a}\x00\x00{b}\x00", f"\x00{a}{b}\x00", regex=False
                        )
                    out = [s[1:-1].split("\x00\x00") for s in joined]
                yield pd.DataFrame({"wc": pdf["wc"], "s": out})

        prev = sym
        sym = sym.mapInPandas(
            apply_batch, "wc long, s array<string>"
        ).localCheckpoint()
        release_local_checkpoint(prev)  # superseded round's blocks
    release_local_checkpoint(sym)  # merges are collected; table is done
    return merges


def hash_embed_vectors(docs: DataFrame) -> DataFrame:
    """Feature-hashed 16-wide document vectors: (doc_id, nnz, vec array<double>).

    Each token adds +/-1 to an md5-chosen bucket; the vector is
    L2-normalized and each component rounded to 6 decimals (the rounding
    makes downstream dot products engine-exact). See :func:`hash_embed`
    for the scalar-certificate form and the scale notes.
    """
    h1 = md5_long(F.col("w"))
    toks = docs.select(
        F.col("doc_id"), F.explode(words(F.col("text"))).alias("w")
    ).select(
        "doc_id",
        (h1 % 16).alias("bucket"),
        # sign from the next bit of the residue — pure int64 arithmetic
        # (a double division here would read bits beyond 2^53 exactness)
        F.when(h1 % 32 < 16, F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
    )
    sums = toks.groupBy("doc_id", "bucket").agg(
        F.sum("sign").cast("long").alias("s")
    )
    per_doc = sums.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "s"))).alias("m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda b: F.coalesce(F.element_at(F.col("m"), b), F.lit(0)).cast("double"),
    )
    nsq = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    normed = F.when(
        nsq > 0,
        F.transform(vec, lambda x: F.round(x / F.sqrt(nsq), 6)),
    ).otherwise(vec)
    empty = F.transform(
        F.sequence(F.lit(0), F.lit(15)), lambda b: F.lit(0.0)
    )
    return (
        docs.select(F.col("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("m").isNull(), F.lit(0))
            .otherwise(F.size(F.col("m")))
            .cast("int")
            .alias("nnz"),
            F.when(F.col("m").isNull(), empty).otherwise(normed).alias("vec"),
        )
    )


def hash_embed(docs: DataFrame) -> DataFrame:
    """Feature-hashed document embeddings (the hashing trick): each token
    adds +/-1 to md5-chosen bucket of a 16-wide vector; the result is
    L2-normalized. No vocabulary, no model — the deterministic text ->
    vector bridge that lets the ANN/dedup stack (IVF, LSH, SemDeDup) run
    on corpora that arrive WITHOUT a precomputed embedding column.

    Emits (doc_id, nnz, vec_hash): md5 of the comma-joined 6-rounded
    components — a scalar certificate of every vector component, ordered.
    Components are rendered through DECIMAL(9,6) (fixed-point, full
    scale) before hashing: a raw double->string cast renders |v| < 1e-3
    in scientific notation on the JVM ("4.0E-4") but fixed-point in
    DuckDB ("0.0004"), so long documents (whose unit-vector components
    drop below 1e-3) would silently break cross-engine hash parity.

    Scale shape: tokens explode once; one (doc, bucket) groupBy with
    map-side +/-1 partials (shuffle rows <= docs x 16); vector assembly
    is a map_from_entries + dense transform inside the per-doc aggregate,
    never a pivot. Signs/buckets are md5-derived, engine-reproducible.
    """
    v = hash_embed_vectors(docs)
    return v.select(
        "doc_id",
        "nnz",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.col("vec"), lambda x: x.cast("decimal(9,6)").cast("string")
                ),
            )
        ).alias("vec_hash"),
    )


def bpe_vocab_token_counts(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenizer APPLICATION: (distinct word, token count) under a learned
    BPE merge list — the encode half that pairs with :func:`bpe_learn_batched`
    (learning). The merge list ships to executors in the closure (a merge
    table is broadcast-sized by construction); each distinct word is
    encoded ONCE in an Arrow-batched pass, leftmost-first greedy per merge
    in rank order — byte-for-byte the same loop the learner's apply step
    uses, so learn-then-encode is self-consistent.

    Scale shape: the corpus collapses to DISTINCT words first, so encode
    cost is vocabulary-sized no matter the corpus size; callers join the
    result back on ``word`` (an equi-join Catalyst can plan either side
    of).
    """
    import pandas as pd

    words_df = docs.select(
        F.explode(words(F.col("text"))).alias("word")
    ).distinct()
    mlist = [(a, b) for a, b in merges]

    def enc(batches):
        for pdf in batches:
            counts = [len(_bpe_apply(list(w), mlist)) for w in pdf["word"]]
            yield pd.DataFrame({"word": pdf["word"], "n_tok": counts})

    return words_df.mapInPandas(enc, "word string, n_tok long")


def novelty_scores(docs: DataFrame) -> DataFrame:
    """First-seen bigram novelty in corpus order (doc_id ascending):
    (doc_id, n_grams, n_novel, novelty) where a doc's distinct gram is
    NOVEL iff no lower doc_id contains it — the incremental-information
    metric curriculum/ordering pipelines use to front-load fresh text
    (and the streaming dual of boilerplate detection: novelty ~ 0 marks
    templated tails).

    Grams travel as 60-bit md5 hashes, never raw text, so the single
    gram-keyed shuffle carries (doc_id, long) rows; first-owner is a
    MIN window over the gram hash (no self-join), then one groupBy back
    to doc granularity. Collisions conflate a gram with an earlier one
    (novelty undercount) at the md5 rate — identical in any engine
    recomputing the same hashes. Docs with fewer than 2 words have
    no grams and drop out of the output.
    """
    from pyspark.sql import Window

    prepared = docs.select("doc_id", words(F.col("text")).alias("ws"))
    gh = md5_long(F.col("g"))
    grams = (
        prepared.select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(_BIGRAMS))).alias("g"),
        )
        .select("doc_id", gh.alias("gh"))
        .distinct()
    )
    first = F.min("doc_id").over(Window.partitionBy("gh"))
    flagged = grams.withColumn(
        "novel", (F.col("doc_id") == first).cast("long")
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum("novel").alias("n_novel"),
        F.round(F.sum("novel") / F.count("*"), 6).alias("novelty"),
    )


#: Gopher-rule stopword probe set (Rae et al. 2021, table A1: a document
#: should contain at least 2 of these function words). The paper's set is
#: 8 English ones; this corpus's synthetic vocabulary holds only these two,
#: and a corpus lacking the canonical words substitutes its own, which is
#: the rule's intent.
_STOPWORDS = ("the", "a")


def _bigram_rows(prepared: DataFrame, *keys: str) -> DataFrame:
    """(*keys, a, b): one row per adjacent word pair of the ``ws`` words
    array; a document shorter than two words has none (sequence(1, 0)
    descends, so it short-circuits)."""
    bigram_expr = (
        "CASE WHEN size(ws) < 2 THEN array() ELSE "
        "transform(sequence(1, size(ws) - 1), "
        "i -> struct(ws[i - 1] AS a, ws[i] AS b)) END"
    )
    return prepared.select(*keys, F.explode(F.expr(bigram_expr)).alias("p")).select(
        *keys, F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )


def _half_up_mean_term() -> F.Column:
    """Per-group mean of the decimal(18,6) ``term`` column, rounded half-up
    to 6 decimals in EXACT integer micro-units. ROUND(sum/count, 6) on the
    double quotient diverges between engines when the quotient's shortest
    decimal repr lands on a .5e-6 tie (Spark rounds the decimal repr
    HALF_UP; DuckDB rounds the binary value) — observed on 2 of 2500 docs
    at sf0.1. (sign * ((2|S| + n) div 2n)) / 1e6 is pure int64 on both
    engines; the final division is exact in double (|micro| << 2^53)."""
    return (
        F.when(F.sum("term") < 0, F.lit(-1)).otherwise(F.lit(1))
        * F.expr(
            "(2 * abs(CAST(sum(term) * 1000000 AS BIGINT)) + count(*))"
            " div (2 * count(*))"
        )
    ).cast("double") / F.lit(1e6)


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Conditional add-k-smoothed bigram language-model score per document
    (the CCNet/KenLM-style quality signal, self-trained on the corpus):
    (doc_id, n_bigrams, avg_logprob) with
    p(b|a) = (c(a,b) + 0.5) / (ctx(a) + 0.5 * |V|), carried in the exact
    integer form (2c+1) / (2ctx + V) so the only floating-point steps are
    ONE division and ONE ln per distinct bigram. Unlike
    :func:`bigram_surprisal` (joint-frequency surprisal) this is a true
    conditional LM with smoothing, so unseen-context mass is distributed
    over the vocabulary and scores are comparable across context
    frequencies.

    Determinism: per-bigram terms are rounded to 6 decimals and summed as
    exact decimals; the per-doc mean is a single IEEE division of that
    exact sum. Scale shape: two corpus groupBys (bigram counts, context
    counts) + one broadcastable vocab scalar; the scoring join is keyed
    on the bigram — at 100 TB the frequency tables are vocab^2-bounded
    and heavily skew-cut by Zipf, the same shape as bigram_surprisal
    which AQE handles (hot keys split by skew-join).
    """
    prepared = docs.select("doc_id", words(F.col("text")).alias("ws"))
    doc_bg = _bigram_rows(prepared, "doc_id")
    cab = doc_bg.groupBy("a", "b").agg(F.count("*").alias("cab"))
    ctx = doc_bg.groupBy("a").agg(F.count("*").alias("ctx"))
    vocab = prepared.select(F.explode("ws").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    term = F.round(
        F.log((2 * F.col("cab") + 1) / (2 * F.col("ctx") + F.col("v"))), 6
    ).cast("decimal(18,6)")
    scored = (
        doc_bg.join(cab, ["a", "b"])
        .join(ctx, "a")
        .join(F.broadcast(vocab))
        .withColumn("term", term)
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum("term").cast("double") / F.count("*"), 6).alias(
            "avg_logprob"
        ),
    )


def neg_sample_table(docs: DataFrame) -> DataFrame:
    """word2vec-style negative-sampling table: each vocabulary word gets
    draws proportional to count^(3/4) (Mikolov et al.'s unigram
    flattening — the exponent that keeps rare words reachable without
    letting stopwords dominate), apportioned EXACTLY over a fixed table
    of 1000 slots by the largest-remainder (Hamilton) method.

    Determinism end-to-end: c^(3/4) is computed as sqrt(c)*sqrt(sqrt(c))
    — sqrt is the one power IEEE 754 requires correctly rounded (the
    repo's sqrt-only rule), so the double is bit-identical on any
    engine; it is then quantized to an int64 micro-weight and EVERYTHING
    downstream is integer arithmetic: base quota = (T * w) div W,
    remainders ranked (remainder DESC, word) for the leftover slots.
    sum(n_draws) == 1000 exactly, by construction. Returns
    (word, c, w_micro, n_draws) for words with n_draws > 0.

    Scale shape: one token groupBy (map-side partial) + two 1-row scalar
    broadcasts (total weight, slot deficit) + one vocab-bounded sort for
    the remainder ranking — the table is vocabulary-sized, never
    corpus-sized, and at 100 TB the vocab fits the same Zipf truncation
    as every LM table here.

    int64 headroom (audited round 9): the largest intermediate is
    1000 * w_micro = 1000 * c^0.75 * 1e6, which stays inside int64
    for any token with c <= 4.6e13 occurrences — above the total token
    count of a 100 TB corpus (~2e13), and reached only by a degenerate
    single-token corpus. Note Spark would WRAP silently past that bound
    while DuckDB promotes SUM to int128 / errors on multiply overflow —
    if the table is ever grown past ~10^5 slots, move w_micro to
    DECIMAL(38,0) on both engines first."""
    counts = (
        docs.select(F.explode(words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    wm = counts.withColumn(
        "w_micro",
        F.round(
            F.sqrt(F.col("c")) * F.sqrt(F.sqrt(F.col("c"))) * 1e6, 0
        ).cast("long"),
    )
    tot = wm.agg(F.sum("w_micro").alias("tot"))
    based = wm.crossJoin(F.broadcast(tot)).select(
        "w",
        "c",
        "w_micro",
        F.expr("(1000 * w_micro) div tot").alias("base"),
        F.expr("(1000 * w_micro) % tot").alias("rem"),
    )
    deficit = based.agg(
        (F.lit(1000) - F.sum("base")).alias("deficit")
    )
    ranked = based.crossJoin(F.broadcast(deficit)).withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("w")))
    )
    return (
        ranked.select(
            "w",
            "c",
            "w_micro",
            (
                F.col("base") + (F.col("rk") <= F.col("deficit")).cast("long")
            ).alias("n_draws"),
        )
        .filter(F.col("n_draws") > 0)
    )


def stupid_backoff_scores(docs: DataFrame) -> DataFrame:
    """Stupid-backoff 4-gram LM scoring (Brants et al. 2007 — the
    smoothing Google used at web scale precisely BECAUSE it needs no
    normalization pass, and the scoring rule behind infini-gram-style
    longest-suffix-match): even doc_ids build the 1..4-gram count
    tables, odd doc_ids are scored token-by-token with the LONGEST
    matching context:

        S(w | c3) = c4(c3 w)/c3(c3)            if the 4-gram was seen
                  = 0.4   * c3(c2 w)/c2(c2)    elif the trigram was seen
                  = 0.4^2 * c2(c1 w)/c1(c1)    elif the bigram was seen
                  = 0.4^3 * c1(w)/N            elif the unigram was seen
                  = 0.4^3 * 1/N                else (OOV floor)

    Determinism: every ratio is one IEEE division of exact int64 counts
    + one ln rounded to 6; the backoff penalty adds j * round(ln(0.4), 6)
    as an exact decimal multiple — so the per-token term is an exact
    decimal and doc sums are order-independent. Only positions with a
    full 3-token context are scored. Returns (doc_id, n_scored,
    n_order4/3/2/1 backoff usage counts, avg_logscore).

    Scale shape: four train-side n-gram groupBys (each Zipf-skewed,
    AQE-split) + four gram-keyed left joins on the eval token stream —
    no iteration, no normalization sweep (the whole point of stupid
    backoff); the count tables shard by gram hash at 100 TB exactly like
    a distributed infini-gram index."""
    prepared = docs.select("doc_id", words(F.col("text")).alias("ws"))
    train = prepared.filter(F.col("doc_id") % 2 == 0)

    def grams(df: DataFrame, n: int, out: str) -> DataFrame:
        expr = (
            f"CASE WHEN size(ws) < {n} THEN array() ELSE "
            f"transform(sequence(0, size(ws) - {n}), "
            f"i -> concat_ws(' ', slice(ws, i + 1, {n}))) END"
        )
        return df.select(F.explode(F.expr(expr)).alias(out))

    c1 = grams(train, 1, "g").groupBy("g").agg(F.count("*").alias("c1"))
    c2 = grams(train, 2, "g").groupBy("g").agg(F.count("*").alias("c2"))
    c3 = grams(train, 3, "g").groupBy("g").agg(F.count("*").alias("c3"))
    c4 = grams(train, 4, "g").groupBy("g").agg(F.count("*").alias("c4"))
    n_tok = train.select(F.explode("ws").alias("w")).agg(
        F.count("*").alias("n_train")
    )

    ev = prepared.filter(F.col("doc_id") % 2 == 1)
    pos_expr = (
        "CASE WHEN size(ws) < 4 THEN array() ELSE "
        "transform(sequence(4, size(ws)), i -> struct("
        "concat_ws(' ', ws[i-4], ws[i-3], ws[i-2], ws[i-1]) AS g4, "
        "concat_ws(' ', ws[i-4], ws[i-3], ws[i-2]) AS p3, "
        "concat_ws(' ', ws[i-3], ws[i-2], ws[i-1]) AS g3, "
        "concat_ws(' ', ws[i-3], ws[i-2]) AS p2, "
        "concat_ws(' ', ws[i-2], ws[i-1]) AS g2, "
        "ws[i-2] AS p1, ws[i-1] AS g1)) END"
    )
    tok = ev.select("doc_id", F.explode(F.expr(pos_expr)).alias("t")).select(
        "doc_id", "t.*"
    )
    # longest-suffix lookups: numerator count at each order + its context
    # count (the denominator). Every join is gram-keyed.
    j = (
        tok.join(c4.withColumnRenamed("g", "g4"), "g4", "left_outer")
        .join(
            c3.select(F.col("g").alias("p3"), F.col("c3").alias("cp3")),
            "p3",
            "left_outer",
        )
        .join(c3.withColumnRenamed("g", "g3"), "g3", "left_outer")
        .join(
            c2.select(F.col("g").alias("p2"), F.col("c2").alias("cp2")),
            "p2",
            "left_outer",
        )
        .join(c2.withColumnRenamed("g", "g2"), "g2", "left_outer")
        .join(
            c1.select(F.col("g").alias("p1"), F.col("c1").alias("cp1")),
            "p1",
            "left_outer",
        )
        .join(c1.withColumnRenamed("g", "g1"), "g1", "left_outer")
        .crossJoin(F.broadcast(n_tok))
    )
    ln04 = F.lit("-0.916291").cast("decimal(18,6)")  # round(ln(0.4), 6)
    order = (
        F.when(F.col("c4").isNotNull(), F.lit(4))
        .when(F.col("c3").isNotNull(), F.lit(3))
        .when(F.col("c2").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
    )
    ratio_ln = (
        F.when(F.col("c4").isNotNull(), F.log(F.col("c4") / F.col("cp3")))
        .when(F.col("c3").isNotNull(), F.log(F.col("c3") / F.col("cp2")))
        .when(F.col("c2").isNotNull(), F.log(F.col("c2") / F.col("cp1")))
        .when(
            F.col("c1").isNotNull(), F.log(F.col("c1") / F.col("n_train"))
        )
        .otherwise(F.log(F.lit(1.0) / F.col("n_train")))
    )
    term = (
        F.round(ratio_ln, 6).cast("decimal(18,6)")
        + (F.lit(4) - order).cast("decimal(18,6)") * ln04
    )
    scored = j.select("doc_id", order.alias("o"), term.alias("term"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_scored"),
        F.sum((F.col("o") == 4).cast("long")).alias("n_order4"),
        F.sum((F.col("o") == 3).cast("long")).alias("n_order3"),
        F.sum((F.col("o") == 2).cast("long")).alias("n_order2"),
        F.sum((F.col("o") == 1).cast("long")).alias("n_order1"),
        _half_up_mean_term().alias("avg_logscore"),
    )


def naive_bayes_lang(docs: DataFrame) -> DataFrame:
    """Multinomial Naive Bayes classifier, self-trained and self-evaluated
    in one declarative plan: even doc_ids train, odd doc_ids evaluate.
    The model IS two aggregations — per-(class, word) counts and
    per-class token totals — so "training" is a groupBy and "inference"
    is a join: the canonical bag-of-words classifier a curation pipeline
    runs when it needs a cheap supervised gate (language ID against
    noisy metadata, source attribution, quality tiers) without an
    external model.

    Add-1 smoothing: p(w|l) = (c(w,l) + 1) / (n_l + |V|); log-posterior
    = ln prior + sum of per-token terms. Determinism follows the LM-score
    convention (one IEEE division + one ln per term, rounded to 6 and
    summed as exact decimals), so the argmax over (score DESC, label)
    is engine-independent. Returns (doc_id, lang, pred_lang,
    score, correct) for every eval doc.

    Scale shape: the count model is vocab x classes bounded (broadcast
    side); scoring is one explode + one broadcast join per token + one
    (doc, class) groupBy — the same Zipf-skewed token-keyed shape as
    bigram_lm_scores, AQE-split on hot words. Nothing iterates.
    """
    lbl = F.col("lang")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    ev = docs.filter(F.col("doc_id") % 2 == 1)
    tok_train = train.select(lbl.alias("label"), F.explode(words(F.col("text"))).alias("w"))
    cwl = tok_train.groupBy("label", "w").agg(F.count("*").alias("c"))
    n_l = tok_train.groupBy("label").agg(F.count("*").alias("n"))
    vocab = tok_train.agg(F.countDistinct("w").alias("v"))
    pri = train.groupBy(lbl.alias("label")).agg(F.count("*").alias("dl"))
    tot = train.agg(F.count("*").alias("td"))

    tok_ev = ev.select("doc_id", F.explode(words(F.col("text"))).alias("w"))
    term = F.round(
        F.log((F.coalesce(F.col("c"), F.lit(0)) + 1) / (F.col("n") + F.col("v"))), 6
    ).cast("decimal(18,6)")
    scored = (
        tok_ev.crossJoin(F.broadcast(n_l))  # class-bounded fan-out (|labels| rows)
        # cwl is vocab x classes — usually broadcastable, but NOT bounded
        # by definition (a web-crawl vocabulary is 10^6-10^7 rows): let
        # AQE pick broadcast vs shuffle from measured size
        .join(cwl, ["label", "w"], "left_outer")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "label")
        .agg(F.sum(term).alias("s"))
    )
    prior_term = F.round(
        F.log(F.col("dl").cast("double") / F.col("td")), 6
    ).cast("decimal(18,6)")
    full = (
        scored.join(F.broadcast(pri), "label")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "label", (F.col("s") + prior_term).alias("score"))
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("label"))
    )
    pred = full.withColumn("rn", rn).filter(F.col("rn") == 1)
    return (
        pred.join(ev.select("doc_id", lbl), "doc_id")
        .select(
            "doc_id",
            lbl,
            F.col("label").alias("pred_lang"),
            F.col("score").cast("double").alias("score"),
            (F.col("label") == lbl).cast("int").alias("correct"),
        )
    )


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021 §A1.1) as one
    narrow projection: per-document rule flags (0/1) plus the combined
    verdict. Every ratio threshold is evaluated in cross-multiplied
    integer form (e.g. mean word length in [3, 10] as
    ``3*n_words <= sum_len <= 10*n_words``), so the whole filter is
    exact integer arithmetic — engine-independent and, at 100 TB, a
    zero-shuffle codegen'd scan (the cheapest gate, run first).

    Rules: 50 <= word count <= 100k; mean word length in [3, 10];
    '#'/'...' symbol-to-word ratio < 0.1; < 90% of lines bullet-led;
    < 30% of lines ellipsis-ended; >= 80% of words contain an alphabetic
    character; both ``_STOPWORDS`` present.
    """
    t = F.col("text")
    ws = words(t)
    lines = F.split(t, "\n")
    n_words = F.size(ws).cast("long")
    sum_len = F.length(F.concat_ws("", ws)).cast("long")
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#")))).cast("long")
    # '...' occurrences x3 (length delta of a non-overlapping replace);
    # the symbol-ratio compare is multiplied through by 3 to avoid /3
    ell3 = (F.length(t) - F.length(F.replace(t, F.lit("...")))).cast("long")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda l: l.startswith("- ") | l.startswith("* "))
    ).cast("long")
    n_ell_lines = F.size(F.filter(lines, lambda l: l.endswith("..."))).cast(
        "long"
    )
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_stop = sum(F.array_contains(ws, s).cast("long") for s in _STOPWORDS)
    flag = lambda c: c.cast("int")  # noqa: E731 - 0/1 ints hash identically in DuckDB
    out = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        flag((n_words >= 50) & (n_words <= 100000)).alias("ok_word_count"),
        flag(
            (3 * n_words <= sum_len) & (sum_len <= 10 * n_words)
        ).alias("ok_mean_word_len"),
        flag(10 * (3 * n_hash + ell3) < 3 * n_words).alias("ok_symbol_ratio"),
        flag(10 * n_bullet < 9 * n_lines).alias("ok_bullet"),
        flag(10 * n_ell_lines < 3 * n_lines).alias("ok_ellipsis"),
        flag(5 * n_alpha >= 4 * n_words).alias("ok_alpha"),
        flag(n_stop >= 2).alias("ok_stopwords"),
    )
    all_ok = (
        (F.col("ok_word_count") == 1)
        & (F.col("ok_mean_word_len") == 1)
        & (F.col("ok_symbol_ratio") == 1)
        & (F.col("ok_bullet") == 1)
        & (F.col("ok_ellipsis") == 1)
        & (F.col("ok_alpha") == 1)
        & (F.col("ok_stopwords") == 1)
    )
    return out.withColumn("keep_doc", all_ok.cast("int"))


def kneser_ney_scores(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score per document — the
    canonical n-gram smoothing (absolute discount D = 3/4, continuation
    probabilities from distinct-predecessor counts):

        p(b|a) = (c(ab) - D)/c(a.) + D * N1+(a.)/c(a.) * N1+(.b)/N1+(..)

    With the dyadic D this folds to ONE exact integer ratio per bigram:

        p = ((4*c(ab) - 3) * T + 3 * N1+(a.) * N1+(.b)) / (4 * T * c(a.))

    (T = N1+(..) = distinct bigram types; c(ab) >= 1 for every scored
    bigram, so the discount never clips). The only floating-point steps
    are one division of those exact int64s and one ln, rounded to 6 and
    decimal-summed per doc — same determinism contract as
    :func:`bigram_lm_scores`. int64 headroom: the numerator is bounded
    by 4 * c_max * T; past ~c_max * T = 2^60 (far beyond any vocabulary
    this side of a web crawl) the same algebra carries in decimal.

    Scale shape: three bigram-keyed groupBys (counts, distinct-successor,
    distinct-predecessor) + one broadcast scalar; the scoring join is
    bigram-keyed, Zipf-skewed like bigram_lm_scores (AQE skew-split).
    """
    prepared = docs.select("doc_id", words(F.col("text")).alias("ws"))
    doc_bg = _bigram_rows(prepared, "doc_id")
    cab = doc_bg.groupBy("a", "b").agg(F.count("*").alias("cab"))
    # Round 11 negative result: deriving ctx/N1+/T from the cab COUNT
    # table (ctx(a) = sum_b c(ab), N1+ = row counts, T = total rows —
    # identical values) was implemented and A/B'd, then REVERTED.
    # Rationale for trying it: "the ctx branch shuffles an unaggregated
    # Zipf-hot token stream". That premise is false — groupBy().count()
    # partial-aggregates MAP-SIDE, so every branch below already
    # shuffles at most vocab-sized partial counts per partition. The
    # derived form added a second exchange level per stat branch and
    # measured: sf0.1 interleaved standalone NEUTRAL (2.00->1.78 then
    # 1.56->1.59 medians), amplified sf1 ~8% WORSE (8.71 -> 9.41
    # median). The direct form below is the certified, measured optimum.
    ctx = doc_bg.groupBy("a").agg(F.count("*").alias("ctx"))
    types = doc_bg.select("a", "b").distinct()
    n1a = types.groupBy("a").agg(F.count("*").alias("n1a"))
    n1b = types.groupBy("b").agg(F.count("*").alias("n1b"))
    t = types.agg(F.count("*").alias("t"))
    num = (4 * F.col("cab") - 3) * F.col("t") + 3 * F.col("n1a") * F.col(
        "n1b"
    )
    den = 4 * F.col("t") * F.col("ctx")
    term = F.round(F.log(num / den), 6).cast("decimal(18,6)")
    scored = (
        doc_bg.join(cab, ["a", "b"])
        .join(ctx, "a")
        .join(n1a, "a")
        .join(n1b, "b")
        .join(F.broadcast(t))
        .withColumn("term", term)
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        _half_up_mean_term().alias("avg_logprob_kn"),
    )


def bleu2_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, len_ref, len_hyp, p1_6, p2_6, bleu2_6): BLEU-2 between
    candidate near-duplicate pairs — the MT-style overlap score that
    answers what Jaccard cannot: Jaccard sees shingle SETS, BLEU's
    clipped n-gram precisions see repetition and length (a doc that
    copies one paragraph five times scores high Jaccard but its clipped
    counts cap at the reference's). The lower id is the reference, the
    higher the hypothesis; bleu2 = BP * sqrt(p1 * p2) with the standard
    brevity penalty min(1, e^(1 - r/c)).

    Determinism: clipped counts sum(min(c_hyp, c_ref)) and lengths are
    exact int64; every float step after is scalar per pair (two exact
    IEEE divisions, one multiply, sqrt — correctly rounded by IEEE —
    and EXP only inside the ROUND(...,6) guard the repo's LN usage
    already accepts). No order-sensitive float reduction anywhere.

    Scale shape: n-gram counts collapse per (doc, n, gram) map-side;
    the scoring join fans each CANDIDATE pair (LSH-bounded upstream,
    never all-pairs) out by its shared grams only — two keyed joins, one
    groupBy, all narrow rows.
    """
    ws = docs.select(
        F.col("doc_id").alias("id"),
        words(F.col("text")).alias("ws"),
    )
    uni = ws.select(
        "id", F.lit(1).alias("n"), F.explode("ws").alias("g")
    )
    bi = ws.filter(F.size("ws") >= 2).select(
        "id",
        F.lit(2).alias("n"),
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("g"),
    )
    cnts = uni.unionAll(bi).groupBy("id", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    lens = cnts.groupBy("id", "n").agg(F.sum("c").alias("len"))
    cd = pairs.select("id_a", "id_b")
    ov = (
        cd.join(
            cnts.select(
                F.col("id").alias("id_a"), "n", "g", F.col("c").alias("ca")
            ),
            "id_a",
        )
        .join(
            cnts.select(
                F.col("id").alias("id_b"), "n", "g", F.col("c").alias("cb")
            ),
            ["id_b", "n", "g"],
        )
        .groupBy("id_a", "id_b", "n")
        .agg(F.sum(F.least("ca", "cb")).alias("num"))
    )

    def lenf(side: str, n: int, out: str) -> DataFrame:
        return lens.filter(F.col("n") == n).select(
            F.col("id").alias(side), F.col("len").alias(out)
        )

    def ovf(n: int, out: str) -> DataFrame:
        return ov.filter(F.col("n") == n).select(
            "id_a", "id_b", F.col("num").alias(out)
        )

    base = (
        cd.join(lenf("id_a", 1, "len_ref"), "id_a")
        .join(lenf("id_b", 1, "len_hyp"), "id_b")
        .join(lenf("id_b", 2, "len2_hyp"), "id_b", "left")
        .join(ovf(1, "num1"), ["id_a", "id_b"], "left")
        .join(ovf(2, "num2"), ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "len_ref",
            "len_hyp",
            F.coalesce("num1", F.lit(0)).alias("num1"),
            F.coalesce("num2", F.lit(0)).alias("num2"),
            F.coalesce("len2_hyp", F.lit(0)).alias("len2_hyp"),
        )
    )
    p1 = F.col("num1") / F.col("len_hyp")
    p2 = F.when(F.col("len2_hyp") == 0, F.lit(0.0)).otherwise(
        F.col("num2") / F.col("len2_hyp")
    )
    bp = F.when(F.col("len_hyp") >= F.col("len_ref"), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - F.col("len_ref").cast("double") / F.col("len_hyp"))
    )
    bleu = F.when(
        (F.col("num1") == 0) | (F.col("num2") == 0) | (F.col("len2_hyp") == 0),
        F.lit(0.0),
    ).otherwise(bp * F.sqrt(p1 * p2))
    return base.select(
        "id_a",
        "id_b",
        "len_ref",
        "len_hyp",
        F.round(p1, 6).alias("p1_6"),
        F.round(p2, 6).alias("p2_6"),
        F.round(bleu, 6).alias("bleu2_6"),
    )


def bigram_lm_scores_cross(train_docs: DataFrame, score_docs: DataFrame) -> DataFrame:
    """Cross-trained conditional bigram LM: counts, contexts and vocabulary
    come from ``train_docs`` ONLY; every document in ``score_docs`` is
    scored against that fixed model — the actual CCNet design (Wenzek et
    al. 2020 train a KenLM on Wikipedia and bucket Common Crawl by its
    perplexity), where :func:`bigram_lm_scores` is the self-trained
    approximation. Returns (doc_id, n_bigrams, avg_logprob, oov_rate):
    unseen bigrams fall back to the add-0.5 smoothing mass
    (2*0+1)/(2*ctx+|V|), unseen contexts to 1/|V|, and ``oov_rate`` is
    the fraction of scored bigrams absent from the reference model — the
    domain-shift readout beside the score itself.

    Same determinism contract as the self-trained LM (exact integer
    ratios, ONE ln per scored bigram rounded to 6 decimals, decimal sum,
    single IEEE division per doc). Scale: the model tables are bounded by
    the REFERENCE corpus (the small, curated side); the scoring joins are
    bigram-keyed left joins of the crawl stream against them — at 100 TB
    the reference model broadcasts and the crawl never shuffles twice.
    """
    t_prep = train_docs.select(words(F.col("text")).alias("ws"))
    t_bg = _bigram_rows(t_prep)
    cab = t_bg.groupBy("a", "b").agg(F.count("*").alias("cab"))
    ctx = t_bg.groupBy("a").agg(F.count("*").alias("ctx"))
    vocab = t_prep.select(F.explode("ws").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    s_bg = _bigram_rows(
        score_docs.select("doc_id", words(F.col("text")).alias("ws")), "doc_id"
    )
    # |V|=0 (empty/degenerate train_docs) would make the smoothing
    # denominator 0 — Spark double division then yields Infinity->null
    # terms while other engines propagate NULL differently. Fail loudly
    # instead: raise_error is JVM-side and lazy (no extra driver job).
    v_checked = F.when(F.col("v") > 0, F.col("v")).otherwise(
        F.raise_error(
            F.lit(
                "bigram_lm_scores_cross: training vocabulary is empty "
                "(train_docs has no words) — cross-LM scores are undefined"
            )
        )
    )
    term = F.round(
        F.log(
            (2 * F.coalesce(F.col("cab"), F.lit(0)) + 1)
            / (2 * F.coalesce(F.col("ctx"), F.lit(0)) + v_checked)
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        s_bg.join(cab, ["a", "b"], "left")
        .join(ctx, "a", "left")
        .join(F.broadcast(vocab))
        .withColumn("term", term)
        .withColumn("oov", F.when(F.col("cab").isNull(), 1).otherwise(0))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        # plain ROUND(sum/count, 6) diverged on 3 of 4750 docs at sf0.1
        _half_up_mean_term().alias("avg_logprob"),
        F.round(F.sum("oov") / F.count("*"), 6).alias("oov_rate"),
    )
