"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (the point of doing this on Spark):

- Exact dedup is one hash-groupBy: shuffle keyed by content hash, partial
  aggregation map-side. Works at any scale; skew only if one document is
  duplicated millions of times (AQE skew-join handles the join-back).
- MinHash+LSH is the linear-time near-dup path: shingle -> k min-hashes ->
  band keys -> pairs within each (band, key) bucket, one shuffle in
  similarity.capped_bucket_pairs. No quadratic candidate generation.
  Band-key skew (a band shared by millions of docs) is the classic
  failure: the bucket cap drops those buckets before pairing.
- All-pairs n-gram Jaccard is quadratic — kept as the *verification*
  operator over LSH candidates or bounded subsets, never the scale path.
- Hash functions are md5-derived (not Spark's murmur3) so the DuckDB
  oracle can compute the exact same signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from odbc2parquet_spark.functions.hashing import HASH_DOMAIN, md5_long, md5_pair
from odbc2parquet_spark.operators.similarity import (
    band_melt,
    banded_hamming_pairs,
    cap_buckets,
    capped_bucket_pairs,
)
from odbc2parquet_spark.operators.text import words

# ---------------------------------------------------------------- exact


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Group by content hash; one row per distinct content.

    Returns (content_hash, n_copies, keep_id) — keep-first policy
    (min id wins). Drop rows with n_copies>1 joined back to prune.
    """
    return docs.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_id")
    )


def drop_exact_duplicates(docs: DataFrame) -> DataFrame:
    """Keep only the first (min-id) copy of each distinct text."""
    keepers = exact_duplicates(docs).select(
        F.col("keep_id").alias("doc_id")
    )
    return docs.join(keepers, "doc_id", "left_semi")


# ------------------------------------------------------------- shingles


def word_shingles(docs: DataFrame, spread: bool = False) -> DataFrame:
    """Distinct 3-word shingles per document: (id, g).

    :func:`word_shingle_stream` plus a distinct: a shuffle on (id, g) —
    unavoidable for set semantics, partially aggregated map-side.

    ``spread`` routes the input through catalog.spread_scan (round-robin
    repartition when the file layout under-parallelizes the scan). OPT-IN
    per call site: the tokenize+md5 stage wins 1.3-1.6x where its one
    materialization is the critical path (minhash_near_duplicates), but
    the extra exchange LOSES where many sibling arms already saturate
    the cores (dd_band_curve 3.11->3.43, tx_curation_delta 6.27->7.12 in
    the round-12 interleaved A/B).
    """
    return word_shingle_stream(docs, spread).distinct()


# ------------------------------------------------------- n-gram Jaccard


def jaccard_pairs(shingles: DataFrame) -> DataFrame:
    """All-pairs Jaccard over a (id, g) shingle set.

    Quadratic in documents-per-shared-shingle: use only on bounded inputs
    or LSH candidate neighborhoods. Returns (id_a, id_b, common, n_a, n_b)
    filtered to jaccard >= 0.5; the division is int/int -> double,
    bit-identical in any engine.
    """
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")) >= F.lit(0.5)
        )
        .select("id_a", "id_b", "common", "n_a", "n_b")
    )


# --------------------------------------------------------- MinHash+LSH


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(id, mh0..mh{k-1}) — one groupBy, k min-aggregates, map-side partials.

    Hash family via the two-hash composition (Kirsch-Mitzenmacher):
    h_j(g) = (h1 + j*h2) mod 2^60 with h1/h2 the two 15-hex-digit halves of
    a SINGLE md5(g) — one digest per shingle instead of k, md5 so external
    engines reproduce it, and everything fits a positive int64
    (max h1 + 7*h2 < 2^63).
    """
    h1, h2 = md5_pair(F.col("g"))
    aggs = [
        F.min((h1 + F.lit(j) * h2) % F.lit(HASH_DOMAIN)).alias(f"mh{j}")
        for j in range(8)
    ]
    return shingles.groupBy("id").agg(*aggs)


def word_shingle_stream(docs: DataFrame, spread: bool = False) -> DataFrame:
    """Non-distinct 3-word shingles per document: (id, g).

    Built-ins only: split + transform over an index sequence + explode
    (``spread`` as in :func:`word_shingles`).

    For MIN-aggregating consumers (MinHash) the distinct is pure waste:
    min over a multiset equals min over its set, and :func:`word_shingles`'
    ``.distinct()`` is a full shuffle of the corpus's (id, shingle) SET,
    while the signature groupBy after THIS stream partial-aggregates
    map-side and shuffles only k min-longs per (partition, id). Keep
    :func:`word_shingles` for set-semantics consumers (Jaccard).

    (A fully row-local fold shape was measured 9x SLOWER at sf0.1 —
    Catalyst inlines the md5 transform into every min-fold, recomputing
    the digests per hash function — so explode + partial-agg is the right
    physical shape, not arrays.)
    """
    ws = F.split(F.col("text"), " ")
    parts = [f"ws[i - 1 + {k}]" for k in range(3)]
    # NB: Spark's sequence(1, 0) yields DESCENDING [1, 0], not empty —
    # short documents must short-circuit to an empty shingle set.
    shingle_expr = (
        "CASE WHEN size(ws) < 3 THEN array() ELSE "
        "transform(sequence(1, size(ws) - 2), "
        f"i -> concat_ws(' ', {', '.join(parts)})) END"
    )
    from odbc2parquet_spark.catalog import spread_scan

    return (
        (spread_scan(docs) if spread else docs)
        .select(F.col("doc_id").alias("id"), ws.alias("ws"))
        .select("id", F.explode(F.expr(shingle_expr)).alias("g"))
    )


def _minhash_keys(bands: int, rows_per_band: int) -> list[F.Column]:
    """Band keys of a (id, mh0..) signature: ``rows_per_band`` min-hashes each."""
    return [
        F.concat_ws("_", *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)])
        for b in range(bands)
    ]


def lsh_candidate_pairs(signatures: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Band the signature into 4 bands of 2 min-hashes, bucket on band key,
    emit distinct id pairs: one (band, key) shuffle through :func:`band_melt` and
    :func:`capped_bucket_pairs`, whose ``max_bucket`` cap drops degenerate
    buckets (the classic LSH skew failure), trading recall for boundedness.
    """
    melted = band_melt(signatures, F.col("id"), _minhash_keys(4, 2))
    return capped_bucket_pairs(melted, ["band", "key"], max_bucket, dedupe=True)


#: the (bands, rows) bandings lsh_candidate_pairs_multi emits in one shuffle
_MULTI_BANDINGS = [(8, 1), (4, 2), (2, 4), (1, 8)]


def lsh_candidate_pairs_multi(signatures: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Candidate pairs for the ``_MULTI_BANDINGS`` of one signature in a
    single shuffle: (cfg, id_a, id_b), cfg = "{bands}x{rows}" — exactly the
    union of the per-config banded pairs (what :func:`lsh_candidate_pairs`
    emits for 4x2), which a loop would pay one signature evaluation and one
    shuffle per config for.
    """
    keys = {f"{b}x{r}": _minhash_keys(b, r) for b, r in _MULTI_BANDINGS}
    melted = band_melt(signatures, F.col("id"), keys)
    return (
        capped_bucket_pairs(melted, ["cfg", "band", "key"], max_bucket, keep_bucket=True)
        .select("cfg", "id_a", "id_b")
        .distinct()
    )


def shingle_overlap(cand: DataFrame, sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(common, sizes): the exact side of MinHash verification. ``common``
    is (id_a, id_b, common), the distinct shingles each candidate pair
    shares; ``sizes`` is (id, n), each document's distinct-shingle count."""
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "g")
    b = sh.select(F.col("id").alias("id_b"), "g")
    common = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    return common, sizes


def minhash_near_duplicates(docs: DataFrame) -> DataFrame:
    """Full near-dup pipeline: shingle -> sign -> band -> candidates ->
    exact-Jaccard verify (verification joins shingles only for candidate
    pairs, so the quadratic step is bounded by LSH recall).

    Signatures aggregate the NON-distinct shingle stream (multiset min =
    set min) so the only distinct-shuffle of the corpus shingle set is
    the one the Jaccard verification genuinely needs.

    The distinct shingle table is persisted: it feeds both verify sides
    AND the size table (itself joined twice), so an unpersisted plan
    re-runs the corpus-wide distinct four times (measured ~35% of this
    pipeline's wall at sf0.1). ContextCleaner reclaims the blocks once
    the returned plan is unreferenced — the same convention as
    graph.triangle_count."""
    from pyspark import StorageLevel

    from odbc2parquet_spark import cachereg

    sh = cachereg.track(
        word_shingles(docs, spread=True).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    sig = minhash_signatures(
        word_shingle_stream(docs, spread=True),
    )
    common, sizes = shingle_overlap(lsh_candidate_pairs(sig), sh)
    return (
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .filter(
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")) >= F.lit(0.5)
        )
        .select("id_a", "id_b", "common", "n_a", "n_b")
    )


# -------------------------------------------------------------- SimHash


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Unweighted SimHash over distinct words: (id, simhash).

    bit_i(doc) = majority sign over words of bit i of h(word); the integer
    signature packs the bits. ZERO shuffles: one Arrow-batched pass
    (``mapInArrow``) tokenizes, hashes each DISTINCT word once per batch
    (a dict cache — corpora share vocabulary, so md5 runs ~|vocab| times,
    not |tokens| times), and takes the per-bit majority as a vectorized
    int16 matrix sum. Exact-integer majority counts are order-independent,
    and the word hash is the repo-standard truncated md5,
    ``int(md5(w)[:ceil(bits/4) hex], 16)`` (8 hex chars at the classic
    bits=32, 15 at the wide bits=60) — the same value the SQL oracles
    recompute, so signatures stay engine-identical. (History: a packed-mask expression fold was 2.2x
    over per-bit unrolled folds; this kernel is another ~4x on top —
    Spark HOFs don't codegen, and per-word-per-bit interpreted lambdas
    were the remaining floor.)
    """
    import hashlib

    import numpy as np
    import pyarrow as pa

    def sig_batches(batches):
        cache: dict[str, np.ndarray] = {}

        # 4 bits of md5 per hex char: 8 chars for the classic 32-bit
        # signature (unchanged), 15 for the 60-bit wide variant — the same
        # truncated-md5 family the SQL oracles recompute.
        hexchars = (bits + 3) // 4

        def word_bits(w: str) -> np.ndarray:
            v = cache.get(w)
            if v is None:
                h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:hexchars], 16)
                v = np.fromiter(
                    ((1 if h & (1 << i) else -1) for i in range(bits)),
                    dtype=np.int16,
                    count=bits,
                )
                cache[w] = v
            return v

        masks = np.array([1 << i for i in range(bits)], dtype=np.int64)
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False)
            sigs = np.empty(n, dtype=np.int64)
            for i, t in enumerate(b.column(1).to_pylist()):
                seen = dict.fromkeys(w for w in (t or "").split(" ") if w != "")
                if not seen:
                    sigs[i] = 0
                    continue
                counts = np.zeros(bits, dtype=np.int64)
                for w in seen:
                    counts += word_bits(w)
                sigs[i] = int(masks[counts > 0].sum())
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), pa.array(sigs, type=pa.int64())],
                names=["id", "simhash"],
            )

    return docs.select(
        F.col("doc_id").cast("long").alias("id"), F.col("text")
    ).mapInArrow(sig_batches, "id long, simhash long")


def simhash_near_pairs(sig: DataFrame) -> DataFrame:
    """Pairs within 6 bits — all-pairs VERIFICATION operator.

    Quadratic; use on bounded inputs only. The scale path is
    :func:`simhash_banded_pairs`.
    """
    a = sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"))
    b = sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b", "hamming")
    )


def simhash_banded_pairs(sig: DataFrame, bits: int = 32, max_bucket: int = 10000) -> DataFrame:
    """SimHash scale path: pigeonhole banding instead of all-pairs.

    Split into 4 contiguous slices, more than the Hamming radius 3, two
    signatures within 3 bits agree on at least one slice, so
    :func:`similarity.banded_hamming_pairs` finds EVERY pair within the
    radius (exact, not probabilistic) unless its only shared buckets
    hold more than ``max_bucket`` signatures and are dropped.
    """
    return banded_hamming_pairs(
        sig, "id", "simhash", 4, bits // 4, 3, max_bucket
    )


# ------------------------------------------------------ incremental dedup


def incremental_exact_dedup(new_docs: DataFrame, existing: DataFrame) -> DataFrame:
    """Dedupe an incoming batch against an already-deduped corpus.

    The production ingestion shape: the existing corpus contributes only
    its content-hash column (at 100 TB that hash index is ~2% of corpus
    bytes and is what you persist between runs) — the corpus itself is
    never rescanned. Within-batch dups resolve keep-first; batch rows
    whose hash exists in the index are dropped via one anti-join keyed on
    the hash (broadcast when the batch is small, shuffle otherwise —
    Spark picks).
    """
    index = existing.select(F.md5(F.col("text")).alias("content_hash")).distinct()
    batch = new_docs.withColumn("content_hash", F.md5(F.col("text")))
    batch_keepers = batch.join(
        batch.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id")),
        ["doc_id", "content_hash"],
        "left_semi",
    )
    return batch_keepers.join(index, "content_hash", "left_anti").drop("content_hash")


def incremental_minhash_dedup(
    existing: DataFrame,
    batch: DataFrame,
    max_bucket: int = 1000,
) -> DataFrame:
    """Ingestion-time near-dup gate: batch docs with NO verified MinHash
    near-duplicate in the existing corpus — the incremental counterpart of
    :func:`minhash_near_duplicates`, as :func:`incremental_exact_dedup`
    is of :func:`exact_duplicates`.

    Scale shape: the existing corpus reduces to its band-key INDEX
    (4 narrow rows per doc, buckets above ``max_bucket`` dropped
    by :func:`cap_buckets`) — precompute it once, store it partitioned by
    (band, key), and each batch equi-joins it instead of re-scanning
    corpus text. Existing-side TEXT is touched only for the exact-Jaccard
    verify of candidates, keyed by candidate ids, so batch-vs-corpus work
    scales with the batch, not the corpus.
    """
    # Measured negative result: the plan tokenizes documents 6x (2
    # signature streams + each side's shingle set for sizes/verify), yet
    # persisting the two shingle tables ran 1.70s -> 2.99s standalone
    # (persisting only sh: 2.39s; tx_curation_delta 5.76 -> 7.34/6.44):
    # the redundant subtrees overlap across cores inside one job, while a
    # persist serializes the DAG behind a materialization barrier.
    keys = _minhash_keys(4, 2)

    def band_rows(docs: DataFrame, id_name: str) -> DataFrame:
        stream = word_shingle_stream(docs)
        sig = minhash_signatures(stream)
        return band_melt(sig, F.col("id"), keys).withColumnRenamed("vec_id", id_name)

    index = cap_buckets(band_rows(existing, "old_id"), ["band", "key"], max_bucket)
    cand = band_rows(batch, "new_id").join(index, ["band", "key"])
    cand = cand.select("new_id", "old_id").distinct()
    sh_b = word_shingles(batch)
    sh_e = word_shingles(existing)
    sizes_b = sh_b.groupBy("id").agg(F.count("*").alias("n_new"))
    sizes_e = sh_e.groupBy("id").agg(F.count("*").alias("n_old"))
    common = (
        cand.join(sh_b.select(F.col("id").alias("new_id"), "g"), "new_id")
        .join(sh_e.select(F.col("id").alias("old_id"), "g"), ["old_id", "g"])
        .groupBy("new_id", "old_id")
        .agg(F.count("*").alias("common"))
    )
    jaccard = F.col("common") / (F.col("n_new") + F.col("n_old") - F.col("common"))
    dropped = (
        common.join(sizes_b.select(F.col("id").alias("new_id"), "n_new"), "new_id")
        .join(sizes_e.select(F.col("id").alias("old_id"), "n_old"), "old_id")
        .filter(jaccard >= F.lit(0.5))
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    return batch.select("doc_id").join(dropped, "doc_id", "left_anti")


def repeated_ngram_stats(docs: DataFrame) -> DataFrame:
    """Substring-level duplication stats (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" signal): word 8-grams
    recurring across >= 2 DISTINCT documents, reported per
    document as (doc_id, n_grams, n_dup_grams, dup_frac).

    Document-level dedup (MinHash/SimHash) misses boilerplate spans pasted
    into otherwise-unique documents; this catches them. Within-doc
    repetition deliberately does NOT count (that is ``text.repetition``'s
    signal) — a gram must appear in two different documents.

    Scale shape: every token occurrence becomes one 64-bit gram-hash row
    (linear, no distinct — occurrences matter), then two shuffles on the
    gram hash: a countDistinct(doc) to find cross-doc grams (partial
    map-side aggregation) and a semi-join back. The gram string itself is
    never shuffled — only its truncated md5 — so shuffle rows stay narrow
    regardless of the gram length. At corpus scale the cross-doc gram set
    is the long tail's complement: small enough to behave like a
    dimension side under AQE.
    """
    parts = [f"ws[i - 1 + {k}]" for k in range(8)]
    # NB: sequence(1, 0) is DESCENDING, not empty — short docs short-circuit.
    gram_expr = (
        "CASE WHEN size(ws) < 8 THEN array() ELSE "
        "transform(sequence(1, size(ws) - 7), "
        f"i -> substring(md5(concat_ws(' ', {', '.join(parts)})), 1, 16)) END"
    )
    grams = (
        docs.select(F.col("doc_id"), F.split(F.col("text"), " ").alias("ws"))
        .select("doc_id", F.explode(F.expr(gram_expr)).alias("g"))
    )
    cross_doc = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    per_doc_total = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    per_doc_dup = (
        grams.join(cross_doc, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_grams"))
    )
    return (
        docs.select(F.col("doc_id"))
        .join(per_doc_total, "doc_id", "left")
        .join(per_doc_dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
            F.round(
                F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("double")
                / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)).cast("double"),
                4,
            ).alias("dup_frac"),
        )
    )


def simhash_weighted(docs: DataFrame) -> DataFrame:
    """TF-weighted SimHash: each word votes with its occurrence count
    (majority over tokens, not distinct types) — repeated words dominate
    the signature, which matches near-dup behavior on template-heavy text.

    Same ZERO-shuffle packed-fold shape as :func:`simhash`, just without
    the array_distinct: folding the raw token array weights each word by
    its multiplicity for free. (The previous explode + 32-aggregate
    groupBy shuffled every token row for the same integers.)
    """
    hs = F.transform(words(F.col("text")), lambda w: md5_long(w, 8))
    prepared = docs.select(F.col("doc_id").alias("id"), hs.alias("hs"))
    masks = F.array(*[F.lit(1 << i) for i in range(32)])
    counts = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(0), 32),
        lambda acc, h: F.zip_with(
            acc, masks, lambda c, m: c + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    sig = F.aggregate(
        F.zip_with(counts, masks, lambda c, m: F.when(c > 0, m).otherwise(F.lit(0))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return prepared.select("id", sig.alias("simhash"))


# ------------------------------------------------------------ bloom gate

BLOOM_M = 4096   #: filter bits
BLOOM_K = 3      #: hash functions (two-hash family, same as MinHash)


def _bloom_positions(text: F.Column) -> F.Column:
    """k bit positions for the md5 of ``text``: (h1 + j*h2) mod m, j < k."""
    h1, h2 = md5_pair(text)
    return F.array(
        *[((h1 + F.lit(j) * h2) % BLOOM_M).cast("long") for j in range(BLOOM_K)]
    )


def bloom_build(docs: DataFrame) -> DataFrame:
    """Build a Bloom filter over document content as a DISTRIBUTED bitset:
    (word, bits) rows where word = position div 32 and bits is the bit_or
    of the member positions' bits.

    The mergeable-by-construction form: partial bit_or per task, one
    ≤m/32-row shuffle — at 100 TB the corpus streams through map tasks and
    the filter that comes out is 128 longs. Store it beside the corpus;
    probing a new batch never touches the corpus itself (the approximate
    counterpart of incremental_exact_dedup's hash index — constant size,
    false positives possible, false negatives impossible).
    """
    pos = docs.select(
        F.explode(_bloom_positions(F.col("text"))).alias("p")
    )
    return (
        pos.select(
            (F.col("p") / 32).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(p % 32 as int))").alias("b"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(b)").alias("bits"))
    )


def bloom_probe(batch: DataFrame, bloom: DataFrame) -> DataFrame:
    """Probe a batch against a built filter: (doc_id, maybe_dup).

    ``maybe_dup`` is true iff ALL k bits are set — guaranteed true for
    any content previously inserted (no false negatives), occasionally
    true for new content (false positives, rate ~ (1-e^{-kn/m})^k).
    The filter broadcasts (≤128 rows); the batch explodes to k rows per
    doc and folds back with a min — one narrow pass, no corpus access.
    """
    pos = batch.select(
        F.col("doc_id"),
        F.explode(_bloom_positions(F.col("text"))).alias("p"),
    ).select(
        "doc_id",
        (F.col("p") / 32).cast("long").alias("word"),
        F.expr("shiftleft(1L, cast(p % 32 as int))").alias("b"),
    )
    hit = (
        pos.join(F.broadcast(bloom), "word", "left_outer")
        .select(
            "doc_id",
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("b")) == F.col("b"))
            .cast("int")
            .alias("set_"),
        )
    )
    return hit.groupBy("doc_id").agg(
        (F.min("set_") == 1).alias("maybe_dup")
    )


def span_scrub(docs: DataFrame) -> DataFrame:
    """Cross-document duplicate-SPAN removal (the transform half of Lee et
    al.'s substring dedup; :func:`repeated_ngram_stats` is the measure
    half). Every word 5-gram occurring in >= 2 distinct documents keeps
    only its globally-first occurrence (min ``(doc_id, pos)``); every other
    occurrence has its 5 covered token positions deleted from its
    document. Documents are reassembled from the surviving tokens in
    order. Emits ``(doc_id, n_tokens, n_removed, scrubbed_hash)`` — the
    hash certifies the exact surviving token sequence without shipping
    the rebuilt text.

    Scale shape (reference has no counterpart; this is pipeline surface):
    the corpus explodes once into (doc, pos, gram-hash) rows — linear in
    token count, grams carried as 16-hex-char truncated md5, never the
    text. One groupBy(gram) finds (distinct-doc count, global-first
    occurrence) with map-side partial min-of-struct; occurrences of
    duplicated grams join back on the gram hash (shuffle on a
    high-cardinality key, skew bounded by the occurrence cap of any one
    span); covered positions explode <= 5 rows per duplicate occurrence;
    the per-document rebuild is one sort_array inside an aggregation
    buffer — no per-doc window, no global sort. At 100 TB every stage is
    a hash shuffle on gram or doc id; nothing is quadratic in corpus
    size and nothing returns to the driver.
    """
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    )
    parts = [f"ws[i - 1 + {k}]" for k in range(5)]
    gram_expr = (
        "CASE WHEN size(ws) < 5 THEN array() ELSE "
        "transform(sequence(1, size(ws) - 4), "
        f"i -> substring(md5(concat_ws(' ', {', '.join(parts)})), 1, 16)) END"
    )
    grams = (
        docs.select(
            F.col("doc_id"), F.split(F.col("text"), " ").alias("ws")
        )
        .select("doc_id", F.posexplode(F.expr(gram_expr)).alias("pos", "g"))
        # duplicate-gram detection scans the FIRST 2^21 tokens of each
        # document: the packed argmin below reserves 21 bits for the
        # position, and one pathological >2M-token document must not kill
        # a corpus-scale job (same quarantine-not-fail policy as
        # winnowing_fingerprints); the oracle applies the identical cap.
        # dd_truncation_audit reports per-source how many documents
        # exceed it, so the partial scan is observable, never silent.
        .filter(F.col("pos") < F.lit(1 << 21))
    )
    # global-first occurrence as min over a PACKED long (doc_id << 21 |
    # pos): a min(struct) is a non-primitive aggregate Spark can only
    # SortAggregate — sorting the gram table, this query's largest
    # intermediate — while a primitive long min hash-aggregates with
    # map-side partials. Packing preserves the lexicographic (doc_id,
    # pos) order exactly for non-negative ids; the pos cap above keeps
    # the 2^21-tokens-per-document packing bound honest.
    enc = F.col("doc_id").cast("long") * F.lit(1 << 21) + F.col("pos")
    dup = (
        grams.groupBy("g")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min(enc).alias("first_enc"),
        )
        .filter(F.col("nd") >= 2)
        .select(
            "g",
            F.struct(
                F.shiftright(F.col("first_enc"), 21).alias("doc_id"),
                (F.col("first_enc") % F.lit(1 << 21)).alias("pos"),
            ).alias("first_occ"),
        )
    )
    rm = (
        grams.join(dup, "g")
        .filter(
            ~(
                (F.col("doc_id") == F.col("first_occ.doc_id"))
                & (F.col("pos") == F.col("first_occ.pos"))
            )
        )
        .select(
            "doc_id",
            F.explode(F.expr("sequence(pos, pos + 4)")).alias("rm_pos"),
        )
        .distinct()
    )
    kept = toks.join(
        rm,
        (toks.doc_id == rm.doc_id) & (toks.pos == rm.rm_pos),
        "left_anti",
    )
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
    )
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.md5(F.concat_ws(" ", seq)).alias("scrubbed_hash"),
    )
    totals = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_tokens"))
    return (
        docs.select(F.col("doc_id"))
        .join(totals, "doc_id", "left")
        .join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            (
                F.coalesce(F.col("n_tokens"), F.lit(0))
                - F.coalesce(F.col("n_kept"), F.lit(0))
            )
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("scrubbed_hash"), F.md5(F.lit(""))).alias(
                "scrubbed_hash"
            ),
        )
    )


def prefix_jaccard_pairs(
    shingles: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact set-similarity self-join by PREFIX FILTERING (Chaudhuri et
    al. 2006 / PPJoin family): all document pairs whose shingle-set
    Jaccard >= ``threshold``, with recall 1.0 — no banding miss
    probability, unlike MinHash LSH. ``shingles`` is the same (id, g)
    distinct-shingle stream the MinHash path consumes (word_shingles).

    The filter: order each doc's shingles by ascending global document
    frequency (rarest first, ties by shingle); two sets with J >= t MUST
    share an element within each other's first |d| - ceil(t*|d|) + 1
    elements, so candidate pairs come from equi-joining ONLY those
    prefix shingles — the rarest ones, whose buckets stay small exactly
    where a naive shingle join explodes. A mutual size filter
    (t*|a| <= |b|, t*|b| <= |a|) rides the candidate join.

    Shuffles: shingle-df groupBy (map-side combined), the df join back,
    one doc-keyed window (rank + size), the prefix bucket join, and the
    verification join against per-doc sorted shingle arrays
    (array_intersect on doc-sized arrays over prefix-bounded candidates
    — never corpus x corpus). Exact integer counting until one final
    Jaccard division, ROUND 6; recall 1.0 is the contract the
    probabilistic path (dd_minhash_lsh) trades away.
    """
    # shingles travel as 60-bit md5 hashes from here on — df counting,
    # ranking, bucket joins and the verification arrays all shuffle longs,
    # never raw text (collisions conflate shingles at the md5 rate,
    # identically in any engine recomputing the same hashes)
    from fractions import Fraction

    # The threshold enters every pruning bound as a RATIONAL p/q
    # (derived from its decimal spelling, e.g. 0.8 -> 4/5), and every
    # bound is computed in exact integer arithmetic: ceil(t*sz) =
    # (p*sz + q - 1) div q, min_overlap = ceil(t/(1+t) * s) =
    # (p*s + p + q - 1) div (p + q). A float ceil(frac * s) is 1 ulp
    # away from the true PPJoin bound for infinitely many size sums
    # (t=0.8: frac rounds ABOVE 4/9, demanding overlap 4m+1 where the
    # exact bound is 4m) — that prunes genuine J >= t pairs and breaks
    # the recall-1.0 contract. Integer div of exact-double integers
    # (floor(N/d), N < 2^53, d <= 20) is engine-deterministic.
    p, q = Fraction(str(threshold)).as_integer_ratio()
    if q > 1000:
        # a float like 1/3 stringifies to 16 significant digits, whose
        # exact fraction has a ~10^16 denominator — p * (sz_a + sz_b)
        # would silently overflow int64. The bounds are only meaningful
        # for human-specified thresholds anyway.
        raise ValueError(
            f"threshold {threshold!r} is not a short decimal (denominator "
            f"{q} > 1000); pass a value with at most 3 decimal places"
        )
    gh = md5_long(F.col("g"))
    # The hashed (id, gh) stream is referenced by the df count, both
    # sides of the prefix self-join and the verification sets — six
    # evaluations of the input subtree. Persisting this narrow proxy was
    # A/B'd in round 11 and LOST on all three registered consumers
    # (dd_prefix_jaccard 2.59s -> 3.24s, mm_video_neardup 1.96 -> 2.37,
    # mm_audio_neardup 1.36 -> 2.19 standalone medians): the redundant
    # evaluations overlap across cores while a persist serializes the
    # DAG behind a materialization barrier and pays the cache write —
    # the same recompute-beats-persist result as the corpus stages in
    # queries/pipelines.py. Revisit only if the input subtree becomes
    # decode-bound (profiled, not assumed) at deployment scale.
    hashed = shingles.select("id", gh.alias("gh")).distinct()
    df_tab = hashed.groupBy("gh").agg(F.count("*").alias("df"))
    ranked = hashed.join(df_tab, "gh")
    w_doc = Window.partitionBy("id").orderBy("df", "gh")
    sized = ranked.select(
        "id", "gh",
        F.row_number().over(w_doc).alias("rn"),
        F.count("*").over(Window.partitionBy("id")).alias("sz"),
    )
    ceil_t_sz = F.floor(
        (F.lit(p) * F.col("sz") + F.lit(q - 1)) / F.lit(q)
    ).cast("long")
    prefix_len = F.col("sz") - ceil_t_sz + 1
    prefix = sized.filter(F.col("rn") <= prefix_len).select("id", "gh", "sz", "rn")
    a, b = prefix.alias("a"), prefix.alias("b")
    # positional filter (the PPJoin refinement over plain prefix
    # filtering): a match at prefix positions (rn_a, rn_b) caps the
    # achievable overlap at 1 + min(sz_a - rn_a, sz_b - rn_b), which must
    # reach the J >= t minimum overlap ceil(p/(p+q) * (sz_a + sz_b)) —
    # computed in exact integers (see above).
    s_sum = F.col("a.sz") + F.col("b.sz")
    min_overlap = F.floor(
        (F.lit(p) * s_sum + F.lit(p + q - 1)) / F.lit(p + q)
    ).cast("long")
    pos_cap = 1 + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    cand = (
        a.join(b, (F.col("a.gh") == F.col("b.gh")) & (F.col("a.id") < F.col("b.id")))
        .filter(F.lit(q) * F.col("b.sz") >= F.lit(p) * F.col("a.sz"))
        .filter(F.lit(q) * F.col("a.sz") >= F.lit(p) * F.col("b.sz"))
        .filter(pos_cap >= min_overlap)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sets = hashed.groupBy("id").agg(
        F.array_sort(F.collect_list("gh")).alias("ts"), F.count("*").alias("sz")
    )
    inter = F.size(F.array_intersect(F.col("ts_a"), F.col("ts_b")))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        cand.join(sets.select(F.col("id").alias("id_a"), F.col("ts").alias("ts_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("ts").alias("ts_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a", "id_b",
            inter.cast("long").alias("n_inter"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """(id, pos, h): WINNOWING fingerprints (Schleimer, Wilkerson &
    Aiken, SIGMOD'03 — the MOSS algorithm): per position the 3-word
    gram's 48-bit md5 hash, then in every sliding window of 4
    consecutive positions select the MINIMUM hash, ties to the RIGHTMOST
    occurrence (the "robust winnowing" rule that makes selections stable
    under local edits). The guarantee: any shared substring of at least
    6 words (window + n - 1) yields at least one shared fingerprint, while
    only ~2/5 (2/(window+1)) of positions are kept — the storage/recall dial
    plagiarism and code-clone detection run on.

    Exactness: the (hash asc, pos desc) argmin packs into one int64
    (h * 1024 + (1023 - pos mod 1024); 48-bit hash keeps the product far
    inside the range; the tiebreak encodes the 1024-gram-BLOCK-local
    position and the window partitions on (id, block), so it never
    wraps), so the window MIN hash-aggregates on both engines. One
    per-doc sliding window over gram rows — zero shuffle beyond the
    (doc, block) partition; output is the DISTINCT selected (pos, h) set
    per doc, every gram of arbitrarily long documents covered (see the
    block-boundary notes inline).
    """
    w_ = Window.partitionBy("id", "block").orderBy("pos").rowsBetween(-3, 0)
    grams = docs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 3 THEN "
                "transform(sequence(1, size(split(text, ' ')) - 2), "
                "i -> concat_ws(' ', slice(split(text, ' '), i, 3))) "
                "ELSE array() END"
            )
        ).alias("pos", "g"),
    )
    h = md5_long(F.col("g"), 12)
    # Long documents are winnowed in independent 1024-gram BLOCKS: the
    # packed argmin reserves 10 bits for the position tiebreak, so the
    # tiebreak encodes the block-LOCAL position and the window partitions
    # on (id, block). Docs at or under 1024 grams are bit-identical to the
    # unsegmented spec (one block); beyond, every gram is still winnowed
    # (no truncation — the round-9 cap this replaces dropped grams past
    # 1023 entirely) with two spec-level block-boundary effects, both
    # toward MORE selections: each block restarts with partial leading
    # windows (the same superset behavior as the document start), and a
    # shared run straddling a boundary is guaranteed a shared fingerprint
    # only from its within-block windows. dd_truncation_audit counts the
    # multi-block documents so the boundary effect stays observable.
    packed = grams.select(
        "id",
        "pos",
        F.expr("pos div 1024").alias("block"),
        (h * 1024 + (1023 - F.col("pos") % 1024)).alias("pk"),
    )
    sel = packed.select(
        "id", "block", F.min("pk").over(w_).alias("mpk")
    ).filter(F.col("mpk").isNotNull())
    return sel.select(
        "id",
        (F.col("block") * 1024 + (1023 - F.col("mpk") % 1024))
        .cast("long")
        .alias("pos"),
        F.expr("mpk div 1024").alias("h"),
    ).distinct()


def winnowing_pairs(fingerprints: DataFrame) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing at least
    2 distinct winnowing fingerprint hashes — the MOSS
    match stage. Pairs come from similarity.capped_bucket_pairs with the
    hash as the bucket and the standard stop-fingerprint cap: a hash in
    more than 64 docs (template/boilerplate mass) is
    dropped, since the window count over the distinct (id, h) rows is
    the per-fingerprint doc frequency."""
    fp = fingerprints.select(F.col("id").alias("vec_id"), "h").distinct()
    return (
        capped_bucket_pairs(fp, ["h"], 64)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def suffix_lcp_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, max_dup_span): per document, the longest token span (capped
    at 16 tokens) that also occurs in ANOTHER document — the suffix-array
    method behind exact substring deduplication (Lee et al., "Deduplicating
    Training Data Makes Language Models Better": build the suffix array of
    the corpus, take the LCP of lexicographically adjacent suffixes from
    different documents). The n-gram ops (span_scrub at n=5,
    tx_decontaminate_13gram at n=13) answer "is there a span of EXACTLY
    length n"; the suffix sort answers "how LONG is the longest shared
    span" in one pass, with no per-length rescan.

    Exact distributed shape WITHOUT a global sort funnel: two suffixes
    share a token-LCP >= 2 only if they share their first TWO tokens, so
    the suffix order is computed per (token1, token2) group — a keyed
    window, never a single-partition sort; cross-group adjacencies can
    only have LCP <= 1 and are irrelevant by construction. Suffixes are
    truncated to 16 tokens (reported spans saturate there — the
    standard bounded-comparison trick). Bigram groups holding more than
    100,000 suffixes are boilerplate mass and dropped (the same stop-key
    rule as winnowing_pairs' 64-document cap), keeping the window skew-bounded.

    Correctness of adjacent-only credit: all suffixes sharing a token
    prefix of length L form a contiguous block in the (array-lexicographic)
    order, and any block containing two documents contains an ADJACENT
    cross-document pair with LCP >= L; per-document maxima are invariant
    to tie order among equal suffixes (an equal-content block credits
    every member document its full content length, which dominates any
    boundary LCP). The argmax is an int comparison.

    Suffixes carry 60-bit md5 TOKEN HASHES, not the tokens: the
    contiguous-block property holds for any per-token injective mapping
    (the sort is over a different total order, but prefix blocks are
    still contiguous), the 16-long fixed-width int64 payload shrinks
    the per-bigram-group sort shuffle vs variable-length strings
    (measured 2.26s -> 1.97s at sf0.1; the second decade is bounded by
    materializing the suffix arrays themselves, not the sort payload),
    and both engines compute identical hashes so the spec stays
    engine-exact. Output (span LENGTHS) is mapping-invariant, so the
    hashed spec produces identical results to the token spec except at
    md5 collisions (~2^-60 per token pair — the approximation bound).
    """
    ws = docs.select(
        F.col("doc_id"),
        F.transform(words(F.col("text")), lambda w: md5_long(w)).alias("ws"),
    )
    # NB: Spark's sequence(1, 0) yields DESCENDING [1, 0], not empty —
    # sub-2-token documents must short-circuit to an empty suffix set
    suf = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(ws) < 2 THEN array() ELSE "
                f"transform(sequence(1, size(ws) - 1), "
                "i -> slice(ws, i, 16)) END"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        "s",
        F.col("s")[0].alias("k1"),
        F.col("s")[1].alias("k2"),
    )
    grp = Window.partitionBy("k1", "k2")
    bounded = (
        suf.withColumn("grp_n", F.count(F.lit(1)).over(grp))
        .filter(F.col("grp_n") <= 100_000)
        .drop("grp_n")
    )
    w = Window.partitionBy("k1", "k2").orderBy("s")
    adj = bounded.select(
        "doc_id",
        "s",
        F.lag("doc_id").over(w).alias("pdoc"),
        F.lag("s").over(w).alias("ps"),
    ).filter(F.col("pdoc").isNotNull() & (F.col("pdoc") != F.col("doc_id")))
    flags = F.zip_with(
        F.col("s"), F.col("ps"), lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))
    )
    lcp = (
        F.array_position(F.concat(flags, F.array(F.lit(0))), 0) - 1
    ).cast("long")
    credited = adj.select(
        F.explode(F.array(F.col("doc_id"), F.col("pdoc"))).alias("doc_id"),
        lcp.alias("lcp"),
    ).filter(F.col("lcp") >= 2)
    return credited.groupBy("doc_id").agg(
        F.max("lcp").cast("long").alias("max_dup_span")
    )
