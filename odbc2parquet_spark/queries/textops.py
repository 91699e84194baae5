"""Text-analysis queries over ``documents`` — oracle-checked.

Wrappers over operators/text.py and operators/multimodal.py. All ratios are
int/int double divisions and all hashes md5-derived, so DuckDB reproduces
every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F

from odbc2parquet_spark import cachereg
from odbc2parquet_spark.catalog import load_table, spread_scan
from odbc2parquet_spark.functions.hashing import HASH_DOMAIN, hex_long_sql, md5_long, md5_long_sql
from odbc2parquet_spark.operators import multimodal as M
from odbc2parquet_spark.operators import text as X
from odbc2parquet_spark.operators.text import DEDUP_NORMAL_FORM_SQL, words, words_sql
from odbc2parquet_spark.queries import query
from odbc2parquet_spark.queries.dedup import (
    _INCREMENTAL_DROPPED_CTE,
    _MINHASH_CAND_CTE,
    _MINHASH_MINS,
    _SHINGLES_CTE,
    _jaccard_pairs_cte,
    _prefix_jaccard_sql,
    _shared_shingles_cte,
)
from odbc2parquet_spark.queries.similarity import (
    _EXACT_TOP_CTE,
    _IVF_PQ_CTES,
    _adc_top_cte,
    _delta_scored_ctes,
    _hits_cte,
)


@query(
    "tx_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({words_sql("text")}) AS n_ws_tokens,
           len(regexp_extract_all(text, '{X.TOKEN_RE}')) AS n_re_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def tx_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + regex (BPE-ish) token counting (built-ins only)."""
    return X.token_stats(load_table(spark, sf_dir, "documents"))


@query(
    "tx_dedup_normalize",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           length({DEDUP_NORMAL_FORM_SQL})
               AS n_norm_chars,
           md5({DEDUP_NORMAL_FORM_SQL})
               AS norm_hash
    FROM documents
    """,
)
def tx_dedup_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup canonicalization (operators/text.dedup_normal_form): the
    C4/Lee-et-al normal form — lowercase, punctuation runs to one space,
    trim — whose md5 is the key case/punct-insensitive exact dedup groups
    on. Zero shuffles; the whole transform is three codegen'd string
    built-ins, so at 100 TB it rides the scan. Composes with dd_exact:
    hash norm_hash instead of md5(text) to fold trivial variants."""
    return X.normalize_stats(load_table(spark, sf_dir, "documents"))


# shared oracle SQL: the quality-score inputs of a ``documents`` row, and
# the score over them
_QUALITY_INPUTS = f"""len({words_sql("text")}) AS n_words,
               length(text) AS n_chars,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
               len(list_filter(string_split(text, ' '),
                   w -> w IN ('the','a','and','of','to','in','is'))) AS n_stop"""

_QUALITY_SCORE = """(CASE WHEN n_words >= 10 THEN 0.25 ELSE 0.0 END)
               + (n_alpha / n_chars) * 0.25
               + (n_stop / n_words) * 0.25
               + (CASE WHEN (n_chars - (n_words - 1)) / n_words >= 3
                        AND (n_chars - (n_words - 1)) / n_words <= 10
                  THEN 0.25 ELSE 0.0 END)"""


def _quality_ctes(base: str, cols: str) -> str:
    """CTEs ``base``: ``cols`` of every document with the quality inputs;
    ``q``: ``cols`` with the composite ``quality_score``."""
    return f"""{base} AS (
        SELECT {cols},
               {_QUALITY_INPUTS}
        FROM documents
    ),
    q AS (
        SELECT {cols},
               {_QUALITY_SCORE} AS quality_score
        FROM {base}
    )"""


@query(
    "tx_quality_scores",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               {_QUALITY_INPUTS}
        FROM documents
    )
    SELECT doc_id, n_words, n_chars,
           n_alpha / n_chars AS alpha_ratio,
           n_stop / n_words AS stop_ratio,
           (n_chars - (n_words - 1)) / n_words AS mean_word_len,
           {_QUALITY_SCORE} AS quality_score
    FROM base
    """,
)
def tx_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality signals + composite score."""
    return X.quality_scores(load_table(spark, sf_dir, "documents"))


def _lang_hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in X.LANG_MARKERS[lang])
    return (
        f"len(list_filter({words_sql('text')}, "
        f"w -> w IN ({markers}))) AS hits_{lang}"
    )


@query(
    "tx_language_id",
    oracle="WITH scored AS (SELECT doc_id, "
    + ", ".join(_lang_hits_sql(lang) for lang in sorted(X.LANG_MARKERS))
    + """ FROM documents)
    SELECT doc_id,
           CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
                WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
                WHEN hits_es >= hits_fr THEN 'es'
                ELSE 'fr' END AS pred_lang,
           greatest(hits_de, hits_en, hits_es, hits_fr) AS marker_hits,
           hits_de, hits_en, hits_es, hits_fr
    FROM scored
    """,
)
def tx_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID, deterministic argmax (first max in
    language-code order wins)."""
    return X.language_id(load_table(spark, sf_dir, "documents"))


@query(
    "tx_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform({words_sql("text")},
                       w -> {md5_long_sql("w", 6)})),
               (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint,
           len({words_sql("text")}) AS n_words
    FROM documents
    """,
)
def tx_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling fingerprint over the word
    sequence (left fold, overflow-free in int64)."""
    return X.fingerprints(load_table(spark, sf_dir, "documents"))


@query(
    "mm_decode_features",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(length(text) % 640 + 1 AS INTEGER) AS fake_width,
           CAST((length(text) * 7) % 480 + 1 AS INTEGER) AS fake_height,
           3 AS fake_channels,
           CAST(list_sum(list_transform(generate_series(1, length(text)),
                i -> ascii(substring(text, i, 1)))) % 1000000007 AS BIGINT) AS checksum
    FROM documents
    WHERE doc_id < 200
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payload -> mapInPandas decode
    (Arrow batches; codec stubbed deterministically — the oracle recomputes
    the fake decode arithmetically from the ASCII source text)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return M.decode_features(M.attach_binary(docs))


@query(
    "mm_frame_sample",
    bench=False,
    oracle="""
    SELECT doc_id, i AS frame_no,
           ascii(substring(text, (i - 1) * 97 + 1, 1)) AS byte_val
    FROM documents, UNNEST(generate_series(1, length(text) // 97)) AS t(i)
    WHERE doc_id < 200
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stub: every-97th-byte markers from the binary payload
    (the explode-to-frames shape of video sampling)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return M.frame_sample(M.attach_binary(docs))


@query(
    "mm_resize",
    oracle="""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id < 200
    ),
    s AS (
        SELECT doc_id, n,
               list_sum(list_transform(generate_series(1, n),
                        i -> ascii(substring(text, i, 1)))) AS total,
               CASE WHEN 576 % n = 0 THEN 0 ELSE
                   list_sum(list_transform(generate_series(1, 576 % n),
                            i -> ascii(substring(text, i, 1))))
               END AS prefix
        FROM d
    )
    SELECT doc_id, 16 AS out_width, 12 AS out_height,
           CAST(576 AS BIGINT) AS out_n_bytes,
           CAST(((576 // n) * total + prefix) % 1000000007 AS BIGINT) AS out_checksum
    FROM s
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: binary in -> resized binary out via mapInPandas
    (resample stubbed as deterministic byte-cycling; the oracle recomputes
    the cycled checksum arithmetically). The resized binary column is
    dropped for hashing but is the real output of the operator."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    out = M.resize_images(M.attach_binary(docs))
    return out.select("doc_id", "out_width", "out_height", "out_n_bytes", "out_checksum")


#: the composed pipeline's stage CTEs (quality gate -> exact dedup ->
#: MinHash banding -> verified losers), shared by the tx_prepare_corpus
#: and tx_pipeline_funnel oracles so both certify the SAME stage chain —
#: mirrors operators/pipelines._corpus_stages on the Spark side.
_PIPE_STAGES_CTES = (
    f"""    {_quality_ctes("qbase", "doc_id, text")},
    gated AS (SELECT * FROM q WHERE quality_score >= 0.5),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
    exact AS (SELECT g.* FROM gated g JOIN keepers k ON g.doc_id = k.doc_id),
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM exact),
    sh AS (
        SELECT DISTINCT doc_id AS id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
    ),
    sig AS (SELECT id, {_MINHASH_MINS} FROM sh GROUP BY id),"""
    + _MINHASH_CAND_CTE
    + ","
    + _shared_shingles_cte()
    + ","
    + _jaccard_pairs_cte("losers", "common", cols="DISTINCT id_b AS doc_id")
)


@query(
    "tx_prepare_corpus",
    oracle=f"""
    WITH {_PIPE_STAGES_CTES}
    SELECT e.doc_id,
           len({words_sql("e.text")}) AS n_ws_tokens,
           len(regexp_extract_all(e.text, '{X.TOKEN_RE}')) AS n_re_tokens,
           length(e.text) AS n_chars,
           e.quality_score
    FROM exact e
    WHERE e.doc_id NOT IN (SELECT doc_id FROM losers)
    """,
)
def tx_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data pipeline: quality gate -> exact dedup ->
    MinHash near-dup dedup -> token stats, as one Catalyst plan. The oracle
    restates all four stages in SQL — a hash match certifies the stage
    plumbing (which rows survive each gate), not just each stage alone."""
    from odbc2parquet_spark.operators.pipelines import prepare_corpus

    docs = load_table(spark, sf_dir, "documents")
    return prepare_corpus(docs)


@query(
    "tx_pack_shards",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len({words_sql("text")}) AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      / 500.0) AS BIGINT) AS shard
    FROM t
    """,
)
def tx_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (~500 whitespace tokens per shard): the
    deterministic exclusive-prefix-sum assignment. Runs the TWO-PASS scale
    implementation (per-partition sums + broadcast offsets — no global
    window funnel); the oracle computes the global-window form, so a hash
    match proves the two-pass decomposition is exact."""
    from odbc2parquet_spark.operators.sharding import pack_shards_two_pass

    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return pack_shards_two_pass(with_tokens)


@query(
    "tx_bigram_surprisal",
    bench=False,
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {words_sql("text")} AS ws
        FROM documents
    ),
    bg AS (
        SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
        FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2
    ),
    freqs AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg),
    tot AS (SELECT SUM(c) AS total FROM freqs)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(-LN(c / total)), 6) AS avg_surprisal
    FROM bg JOIN freqs USING (bg) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def tx_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram language-model surprisal per document — the quality
    signal that separates fluent text from gibberish without an external
    model. Two passes over the corpus: frequency build + scoring join."""
    return X.bigram_surprisal(load_table(spark, sf_dir, "documents"))


@query(
    "tx_stratified_sample",
    bench=False,
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {md5_long_sql("CAST(doc_id AS VARCHAR)")}
          < CASE lang WHEN 'en' THEN {int(0.5 * HASH_DOMAIN)}
                      WHEN 'de' THEN {int(1.0 * HASH_DOMAIN)}
                      WHEN 'es' THEN {int(0.25 * HASH_DOMAIN)}
                      ELSE 0 END
    """,
)
def tx_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling by language (50% en, 100% de,
    25% es, drop the rest) — hash-threshold selection is a pure row
    function: partitioning- and engine-independent, so the oracle
    reproduces the EXACT sample, not just its size."""
    from odbc2parquet_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs).select("doc_id", "lang")


def _rate_sample_sql(col: str) -> str:
    """The documents (doc_id, ``col``) a keep-rate sample takes: CTE
    ``rated`` (src, n, w, ratio) gives each ``col`` value its weight,
    the binding one is kept whole, and rates are quantized as
    ``operators/sampling._rate_sample`` quantizes them."""
    return f"""
    t AS (SELECT MIN(ratio) AS t FROM rated),
    thr AS (
        SELECT src,
               CAST(FLOOR(w * t.t / n * {1 << 40}) AS BIGINT) * {1 << 20} AS thr
        FROM rated CROSS JOIN t
    )
    SELECT d.doc_id, d.{col}
    FROM documents d JOIN thr ON thr.src = d.{col}
    WHERE {md5_long_sql("CAST(d.doc_id AS VARCHAR)")}
          < thr.thr
    """


@query(
    "tx_mixture_sample",
    bench=False,
    oracle=f"""
    WITH counts AS (
        SELECT source AS src, COUNT(*) AS n FROM documents
        WHERE source IN ('src0', 'src1', 'src2')
        GROUP BY source
    ),
    wts(src, w) AS (VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.25)),
    rated AS (
        SELECT c.src, c.n, wts.w, c.n / wts.w AS ratio
        FROM counts c JOIN wts ON wts.src = c.src
    ),"""
    + _rate_sample_sql("source"),
)
def tx_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture reweighting to 50/25/25 across three sources — the
    per-source keep-rates derive from actual counts (binding source kept
    whole), thresholds integer-quantized so both engines select the EXACT
    same rows."""
    from odbc2parquet_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2")
    )
    out = mixture_sample(docs)
    return out.select("doc_id", "source")


@query(
    "tx_repetition",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {words_sql("text")} AS ws
        FROM documents
    ),
    b AS (
        SELECT doc_id, ws,
               CASE WHEN len(ws) < 2 THEN []
                    ELSE list_transform(range(1, len(ws)),
                                        i -> ws[i] || ' ' || ws[i+1]) END AS bg
        FROM w
    ),
    tw AS (
        SELECT doc_id, MAX(c) AS topc FROM (
            SELECT doc_id, u, COUNT(*) AS c
            FROM w, UNNEST(ws) AS t(u)
            GROUP BY doc_id, u
        ) GROUP BY doc_id
    )
    SELECT b.doc_id, len(bg) AS n_bigrams,
           CASE WHEN len(bg) > 0
                THEN ROUND(CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
           END AS distinct_bigram_ratio,
           CASE WHEN len(ws) > 0
                THEN ROUND(CAST(tw.topc AS DOUBLE) / len(ws), 6)
           END AS top_word_ratio
    FROM b LEFT JOIN tw ON b.doc_id = tw.doc_id
    """,
)
def tx_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals: distinct-bigram ratio +
    modal-word share, all narrow per-row array arithmetic (zero shuffles —
    the first gate to run over 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.repetition_stats(docs)


def _bigrams_cte(col: str = "u AS g") -> str:
    """``w`` (the non-empty words of each document) and ``g`` (each
    document's distinct adjacent word pairs ``u``, selected as ``col``)."""
    return f"""
    w AS (
        SELECT doc_id, {words_sql("text")} AS ws
        FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, {col}
        FROM w, UNNEST(CASE WHEN len(ws) < 2 THEN []
                            ELSE list_transform(range(1, len(ws)),
                                                i -> ws[i] || ' ' || ws[i+1]) END) AS t(u)
    )"""


@query(
    "tx_boilerplate_ngrams",
    oracle="WITH "
    + _bigrams_cte()
    + """
    SELECT g, COUNT(*) AS n_docs
    FROM g GROUP BY g HAVING COUNT(*) >= 35
    """,
)
def tx_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus boilerplate detection (n-grams shared by >= 35
    docs, ~top-decile document frequency in this corpus; bigrams here — the synthetic corpus has no line structure). The
    over-threshold output is tiny -> the broadcast blocklist for the
    cleaning pass."""
    docs = load_table(spark, sf_dir, "documents")
    return X.boilerplate_ngrams(docs)


@query(
    "tx_contamination",
    oracle="WITH "
    + _bigrams_cte()
    + """,
    probe AS (SELECT DISTINCT g FROM g WHERE doc_id < 10)
    SELECT doc_id, COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN probe.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           ROUND(CAST(SUM(CASE WHEN probe.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS contamination_ratio
    FROM g LEFT JOIN probe USING (g)
    WHERE doc_id >= 10
    GROUP BY doc_id
    """,
)
def tx_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage scan: per-doc bigram overlap against a broadcast probe
    (benchmark) gram set — corpus explodes once, never shuffles until the
    per-doc fold."""
    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") < 10)
    return X.contamination(docs, probes)


@query(
    "tx_domain_mix",
    oracle=f"""
    WITH per AS (
        SELECT source,
               len({words_sql("text")}) AS n
        FROM documents
    ),
    agg AS (
        SELECT source, COUNT(*) AS n_docs, SUM(n) AS total_tokens
        FROM per GROUP BY source
    )
    SELECT source, n_docs, CAST(total_tokens AS BIGINT) AS total_tokens,
           ROUND(CAST(total_tokens AS DOUBLE)
                 / (SELECT SUM(total_tokens) FROM agg), 6) AS token_share
    FROM agg
    """,
)
def tx_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture report per source domain: the doc/token-share table a
    training run's sampling weights are configured from."""
    docs = load_table(spark, sf_dir, "documents")
    return X.domain_mix(docs)


@query(
    "tx_chunk_documents",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {words_sql("text")} AS ws
        FROM documents
    ),
    st AS (
        SELECT doc_id, ws,
               CASE WHEN len(ws) > 0 THEN range(1, len(ws) + 1, 24)
                    ELSE [] END AS starts
        FROM w
    )
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
           len(array_slice(ws, starts[i], starts[i] + 31)) AS n_tokens,
           md5(array_to_string(array_slice(ws, starts[i], starts[i] + 31), ' '))
               AS chunk_hash
    FROM st, UNNEST(generate_series(1, len(starts))) AS t(i)
    """,
)
def tx_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (32-token windows, 8-token overlap, partial
    tails kept): narrow arrays + one posexplode, zero shuffles; chunk
    identity travels as md5 so the output stays narrow."""
    docs = load_table(spark, sf_dir, "documents")
    return X.chunk_documents(docs)


@query(
    "mm_embed",
    bench=False,
    oracle=f"""
    SELECT doc_id, CAST(j AS INTEGER) AS pos,
           ROUND({md5_long_sql("text || ':' || CAST(j AS VARCHAR)", 6)} / 16777216.0, 6) AS val
    FROM documents, range(0, 8) AS t(j)
    WHERE doc_id < 200
    """,
)
def mm_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal encoder plumbing: payload bytes -> md5-projection
    embedding via Arrow-batched mapInPandas (real model inference
    stubbed; the array<double> output plugs straight into
    operators/similarity). The operator returns the packed array<double>;
    the registered query posexplodes to scalar (doc_id, pos, val) rows so
    the driver's canonicalizer can hash the output."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return M.embed_payloads(M.attach_binary(docs)).select(
        "doc_id", F.posexplode("embedding").alias("pos", "val")
    )


@query(
    "mm_decode_real",
    bench=False,
    oracle="""
    SELECT doc_id, 'bmp' AS fmt,
           CAST(length(text) % 64 + 1 AS INTEGER) AS width,
           CAST(length(text) % 48 + 1 AS INTEGER) AS height,
           3 AS channels
    FROM documents
    """,
)
def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode round-trip: each document's text becomes the
    pixel bytes of a valid 24-bit BMP (encode_bmp), then the real
    header parser (parse_image_header — actual BITMAPINFOHEADER fields,
    not a simulation) extracts format/width/height/channels. The oracle
    recomputes the dimensions the encoder embedded; a hash match proves
    the parser reads genuine file structure end-to-end through the
    Arrow-batched mapInPandas plumbing."""
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_image_headers(M.encode_bmp(docs))


@query(
    "mm_decode_audio",
    bench=False,
    oracle="""
    SELECT doc_id, 'wav' AS fmt,
           CAST(8000 + (length(text) % 8) * 1000 AS INTEGER) AS sample_rate,
           CAST(length(text) % 2 + 1 AS INTEGER) AS channels,
           16 AS bits,
           CAST(length(text) % 500 + 1 AS BIGINT) AS n_samples,
           CAST(FLOOR((length(text) % 500 + 1) * 1000.0
                      / (8000 + (length(text) % 8) * 1000)) AS BIGINT) AS duration_ms
    FROM documents
    """,
)
def mm_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode round-trip: each document's text bytes become PCM
    data in a valid RIFF/WAVE file (encode_wav), then the real chunk-walk
    parser (parse_wav_header — actual fmt/data chunk structure, any chunk
    order) extracts rate/channels/bits/samples/duration. The oracle
    recomputes the parameters the encoder embedded; a hash match proves
    the parser reads genuine container structure end-to-end through the
    Arrow-batched mapInPandas plumbing."""
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_audio_headers(M.encode_wav(docs))


@query(
    "tx_cms_word_freq",
    bench=False,
    oracle=f"""
    WITH wf AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    w2 AS (SELECT w FROM wf WHERE w != ''),
    cells AS (
        SELECT CAST(t.j AS BIGINT) AS row,
               ({md5_long_sql("w")}
                + j * {hex_long_sql("md5(w)", 16)}) % 256 AS col
        FROM w2, UNNEST(generate_series(0, 3)) AS t(j)
    ),
    sketch AS (SELECT row, col, CAST(COUNT(*) AS BIGINT) AS n
               FROM cells GROUP BY row, col),
    exact AS (
        SELECT w AS value, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM w2 GROUP BY w ORDER BY exact_n DESC, value LIMIT 20
    ),
    pm AS (
        SELECT e.value, e.exact_n, CAST(t.j AS BIGINT) AS row,
               ({md5_long_sql("e.value")}
                + j * {hex_long_sql("md5(e.value)", 16)}) % 256 AS col
        FROM exact e, UNNEST(generate_series(0, 3)) AS t(j)
    )
    SELECT pm.value, CAST(MIN(COALESCE(s.n, 0)) AS BIGINT) AS est, pm.exact_n
    FROM pm LEFT JOIN sketch s ON s.row = pm.row AND s.col = pm.col
    GROUP BY pm.value, pm.exact_n
    """,
)
def tx_cms_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream
    (operators/sketches.count_min_sketch): 4x256 counters summarize every
    occurrence; the exact top-20 words probe the sketch so the oracle
    verifies both the counter build and the min-over-rows estimator
    (est >= exact always; equality when no collisions inflate a row).
    Same md5 two-hash family as MinHash — independently rebuildable."""
    from odbc2parquet_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
        heavy_hitters,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w")).filter(
        F.col("w") != ""
    )
    sk = count_min_sketch(words)
    probes = heavy_hitters(words, "w", top_n=20)
    est = cms_estimate(sk, probes.select("value"))
    return est.join(probes, "value").select(
        "value", F.col("est").cast("long").alias("est"), F.col("n").alias("exact_n")
    )


@query(
    "tx_tfidf_density",
    bench=False,
    oracle=f"""
    WITH occ AS (
        SELECT doc_id, unnest({words_sql("text")}) AS w
        FROM documents
    ),
    dfreq AS (
        SELECT w, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY w
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT occ.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(LN(CAST(n.n_docs AS DOUBLE) / dfreq.df)), 6) AS tfidf_density
    FROM occ JOIN dfreq USING (w) CROSS JOIN n
    GROUP BY occ.doc_id
    """,
)
def tx_tfidf_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF density per document: the mean IDF over token OCCURRENCES,
    which algebraically equals the tf-weighted tf-idf sum — the rare-word
    richness signal (template/boilerplate text scores low, information-
    dense text high). Two shuffles: document-frequency build (distinct +
    groupBy on the word) and the scoring join back; the doc count is a
    1-row broadcast. Same LN/AVG/ROUND determinism contract the surprisal
    query already pins across engines."""
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id",
        F.explode(words(F.col("text"))).alias("w"),
    )
    dfreq = occ.distinct().groupBy("w").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        occ.join(dfreq, "w")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("n_docs").cast("double") / F.col("df"))), 6
            ).alias("tfidf_density"),
        )
    )


@query(
    "tx_corpus_report",
    bench=False,
    oracle=f"""
    WITH base AS (
        SELECT lang, source,
               {_QUALITY_INPUTS}
        FROM documents
    ),
    scored AS (
        SELECT lang, source, n_words,
               {_QUALITY_SCORE} AS q
        FROM base
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_words AS BIGINT)) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(q AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
               AS avg_quality
    FROM scored
    GROUP BY ROLLUP (lang, source)
    """,
)
def tx_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card query: document counts, token totals, and mean
    quality score by (lang, source) with ROLLUP subtotals and a grand
    total — one aggregation pass over the scored corpus. The mean is an
    exact decimal sum divided once (order-independent), so both engines
    agree bit-for-bit; NULL group labels mark the subtotal rows."""
    docs = load_table(spark, sf_dir, "documents")
    scored = X.quality_scores(docs).select("doc_id", "n_words", "quality_score")
    joined = docs.select("doc_id", "lang", "source").join(scored, "doc_id")
    return (
        joined.rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_words").cast("long")).alias("total_tokens"),
            F.round(
                F.sum(F.col("quality_score").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_quality"),
        )
    )


#: deterministic PII augmentation shared by both engines: the synthetic
#: corpus carries no contact strings, so each side injects the same
#: doc_id-derived spans (every 2nd doc an email, 3rd a phone, 5th an IP,
#: 7th an SSN-shaped id) before scanning — the detector is exercised on
#: real matches and real non-matches.
_PII_AUG_SQL = """
    text
    || CASE WHEN doc_id % 2 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 3 = 0
            THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
"""


def _pii_augment() -> F.Column:
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        F.col("text"),
        F.when(did % 2 == 0, F.concat(F.lit(" contact user"), s(did), F.lit("@example.com"))).otherwise(""),
        F.when(did % 3 == 0, F.concat(F.lit(" call 555-"), F.lpad(s(did % 1000), 3, "0"), F.lit("-0199"))).otherwise(""),
        F.when(did % 5 == 0, F.concat(F.lit(" host 10.0."), s(did % 256), F.lit("."), s((did * 7) % 256))).otherwise(""),
        F.when(did % 7 == 0, F.concat(F.lit(" id 123-45-"), F.lpad(s(did % 10000), 4, "0"))).otherwise(""),
    )


@query(
    "tx_pii_redact",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{X.PII_PATTERNS["email"]}')) AS n_email,
           len(regexp_extract_all(text, '{X.PII_PATTERNS["phone"]}')) AS n_phone,
           len(regexp_extract_all(text, '{X.PII_PATTERNS["ssn"]}')) AS n_ssn,
           len(regexp_extract_all(text, '{X.PII_PATTERNS["ipv4"]}')) AS n_ipv4,
           len(regexp_extract_all(text, '{X.PII_PATTERNS["email"]}'))
             + len(regexp_extract_all(text, '{X.PII_PATTERNS["phone"]}'))
             + len(regexp_extract_all(text, '{X.PII_PATTERNS["ssn"]}'))
             + len(regexp_extract_all(text, '{X.PII_PATTERNS["ipv4"]}')) AS n_pii_total,
           md5(regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text, '{X.PII_PATTERNS["email"]}', '[EMAIL]', 'g'),
                       '{X.PII_PATTERNS["phone"]}', '[PHONE]', 'g'),
                   '{X.PII_PATTERNS["ssn"]}', '[SSN]', 'g'),
               '{X.PII_PATTERNS["ipv4"]}', '[IPV4]', 'g')) AS redacted_hash
    FROM aug
    """,
)
def tx_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / phones / SSN-shaped ids / IPv4): per-kind match
    counts plus md5 of the redacted text. Pure regexp built-ins — runs at
    scan speed, zero shuffles; the md5 projection keeps the registered
    output narrow and hashable while the operator itself carries the full
    redacted column."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", _pii_augment().alias("text"))
    scanned = X.pii_scan(docs)
    return scanned.select(
        "doc_id", "n_email", "n_phone", "n_ssn", "n_ipv4", "n_pii_total",
        F.md5("redacted").alias("redacted_hash"),
    )


@query(
    "tx_length_histogram",
    oracle=f"""
    WITH n AS (
        SELECT len({words_sql("text")}) AS n_tokens
        FROM documents
    )
    SELECT CAST(FLOOR(n_tokens / 16) * 16 AS BIGINT) AS bucket_start,
           CAST(FLOOR(n_tokens / 16) * 16 + 16 AS BIGINT) AS bucket_end,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM n
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def tx_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution (16-token buckets): the dataset-card
    histogram that drives context-length / packing decisions. One
    map-side-combinable aggregation over the token counts."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(X.words(F.col("text")))
    bucket = (F.floor(n / 16) * 16).cast("long")
    return (
        docs.select(bucket.alias("bucket_start"), n.alias("n_tokens"))
        .groupBy("bucket_start")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").cast("long").alias("total_tokens"))
        .select(
            "bucket_start",
            (F.col("bucket_start") + 16).alias("bucket_end"),
            "n_docs",
            "total_tokens",
        )
        .orderBy("bucket_start")
    )


@query(
    "tx_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
        SELECT e.epoch, d.doc_id,
               md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS k
        FROM documents d, (SELECT unnest(generate_series(0, 1)) AS epoch) e
    ),
    sharded AS (
        SELECT epoch, doc_id, k,
               {hex_long_sql("k", 1, 8)} % 8 AS shard
        FROM keyed
    )
    SELECT epoch, doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY k) AS BIGINT) AS pos
    FROM sharded
    """,
)
def tx_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle: 2 epochs x 8 shards of
    hash-permuted documents — shard by md5 (no global sort), rank within
    (epoch, shard)."""
    from odbc2parquet_spark.operators.sharding import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs).select(
        F.col("epoch").cast("long").alias("epoch"), "doc_id", "shard", "pos"
    )


@query(
    "tx_tokenize_vocab",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, i - 1 AS pos, ws[i] AS w
        FROM (SELECT doc_id,
                     {words_sql("text")} AS ws
              FROM documents),
             UNNEST(generate_series(1, len(ws))) AS t(i)
    ),
    counts AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    vocab AS (
        SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) - 1 AS BIGINT) AS tok_id
        FROM counts QUALIFY tok_id < 16
    ),
    enc AS (
        SELECT doc_id, pos, COALESCE(v.tok_id, -1) AS tid
        FROM toks LEFT JOIN vocab v USING (w)
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_hash
    FROM enc GROUP BY doc_id
    """,
)
def tx_tokenize_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven tokenization: top-16 frequency vocab, id-sequence
    encoding with OOV marking; sequence certified by an order-sensitive
    md5. Rank window runs on the aggregated vocab only; the encode pass
    is posexplode -> broadcast join -> one per-doc regroup."""
    docs = load_table(spark, sf_dir, "documents")
    return X.tokenize_with_vocab(docs)


@query(
    "mm_decode_video",
    oracle="""
    SELECT doc_id, 'isom' AS brand,
           CAST(600 + (length(text) % 5) * 100 AS INTEGER) AS timescale,
           CAST((length(text) * 31) % 100000 AS BIGINT) AS duration,
           3 AS n_top_boxes,
           CAST(octet_length(encode(text)) AS BIGINT) AS mdat_bytes,
           CAST(FLOOR(((length(text) * 31) % 100000) * 1000.0
                      / (600 + (length(text) % 5) * 100)) AS BIGINT) AS duration_ms
    FROM documents
    """,
)
def mm_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode round-trip: each document's text bytes
    become the mdat of a valid ISO BMFF/MP4 (encode_mp4: ftyp + moov/mvhd
    + mdat with spec box layout), then the real box walker
    (parse_mp4_header) extracts brand/timescale/duration. The oracle
    recomputes the parameters the encoder embedded; a hash match proves
    the parser reads genuine container structure end-to-end through the
    Arrow-batched mapInPandas plumbing."""
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_video_headers(M.encode_mp4(docs))


@query(
    "tx_train_val_split",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, source,
               {md5_long_sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS slot
        FROM documents
    )
    SELECT source,
           CASE WHEN slot < 90 THEN 'train'
                WHEN slot < 95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM assigned
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def tx_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by content-stable
    hash slot (no RNG, no state — a doc keeps its split across reruns and
    engines), reported per source. Pure map expression + one aggregation;
    the split column is what a 100 TB run writes as a partition key."""
    docs = load_table(spark, sf_dir, "documents")
    slot = (
        md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    )
    split = (
        F.when(slot < 90, "train").when(slot < 95, "val").otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"), "doc_id")
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source", "split")
    )


@query(
    "tx_cooccurrence_lift",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, i AS pos, ws[i] AS w
        FROM (SELECT doc_id,
                     {words_sql("text")} AS ws
              FROM documents),
             UNNEST(generate_series(1, len(ws))) AS t(i)
    ),
    uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM uni),
    pairs AS (
        SELECT a.w AS w1, b.w AS w2, COUNT(*) AS pc
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
        GROUP BY a.w, b.w
    )
    SELECT w1, w2, pc,
           ROUND(pc * (SELECT n FROM tot) * 1.0 / (ua.c * ub.c), 6) AS lift
    FROM pairs
    JOIN uni ua ON ua.w = w1
    JOIN uni ub ON ub.w = w2
    WHERE pc >= 50
    ORDER BY w1, w2
    """,
)
def tx_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed word co-occurrence with lift (the log-free PMI core):
    skip-gram pairs within distance 2, pair counts vs unigram-product
    expectation. Pair generation is a bounded self-join on (doc, pos+d) —
    linear in tokens x window, never quadratic in document length; the
    unigram table broadcasts. The word2vec/GloVe-era preprocessing pass
    at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(X.words(F.col("text"))).alias("pos", "w")
    )
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    total = uni.agg(F.sum("c").alias("n"))
    # pure EQUI-join on (doc, pos+d), d in {1,2}: a doc_id-only join with a
    # position range predicate would enumerate |doc|^2 candidates per
    # document — quadratic in document length. Exploding the offset keeps
    # pair generation at exactly tokens x window.
    a = toks.select(
        "doc_id",
        F.col("w").alias("w1"),
        F.explode(F.array(F.col("pos") + 1, F.col("pos") + 2)).alias("pt"),
    )
    b = toks.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), F.col("w").alias("w2")
    )
    pairs = (
        a.join(b, (a.doc_id == b.db) & (a.pt == b.pb))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("pc"))
    )
    ua = uni.select(F.col("w").alias("u1"), F.col("c").alias("c1"))
    ub = uni.select(F.col("w").alias("u2"), F.col("c").alias("c2"))
    return (
        pairs.join(F.broadcast(ua), pairs.w1 == ua.u1)
        .join(F.broadcast(ub), pairs.w2 == ub.u2)
        .join(F.broadcast(total))
        .filter(F.col("pc") >= 50)
        .select(
            "w1", "w2", "pc",
            F.round(
                F.col("pc") * F.col("n") / (F.col("c1") * F.col("c2")), 6
            ).alias("lift"),
        )
        .orderBy("w1", "w2")
    )


@query(
    "tx_quality_calibrated",
    oracle=f"""
    WITH {_quality_ctes("qbase", "doc_id, source")}
    SELECT doc_id, source, ROUND(quality_score, 6) AS raw_quality,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                      ORDER BY quality_score, doc_id), 6)
               AS calibrated
    FROM q
    """,
)
def tx_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: raw heuristic scores are NOT
    comparable across domains (a news source and a forum source have
    different score distributions), so a single global threshold
    over/under-prunes per source. Percent-rank within source maps every
    domain onto [0,1] uniformly — threshold once, prune fairly. One
    window per source partition (bounded by the largest source, the same
    partitioning a per-source sampler already pays)."""
    from odbc2parquet_spark.operators.text import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_scores(docs).select("doc_id", "quality_score")
    j = docs.select("doc_id", "source").join(scored, "doc_id")
    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    return j.select(
        "doc_id",
        "source",
        F.round("quality_score", 6).alias("raw_quality"),
        F.round(F.percent_rank().over(w), 6).alias("calibrated"),
    )


@query(
    "tx_pipeline_funnel",
    oracle=f"""
    WITH {_PIPE_STAGES_CTES},
    survivors AS (SELECT e.doc_id FROM exact e
                  WHERE e.doc_id NOT IN (SELECT doc_id FROM losers))
    SELECT '0_raw' AS stage, (SELECT COUNT(*) FROM documents) AS n_surviving
    UNION ALL SELECT '1_quality_gate', (SELECT COUNT(*) FROM gated)
    UNION ALL SELECT '2_exact_dedup', (SELECT COUNT(*) FROM exact)
    UNION ALL SELECT '3_near_dedup', (SELECT COUNT(*) FROM survivors)
    """,
)
def tx_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel report: documents surviving each stage of the
    composed pipeline (raw -> quality gate -> exact dedup -> near-dup
    dedup) — the per-stage observability a production run publishes
    beside its output."""
    from odbc2parquet_spark.operators.pipelines import pipeline_funnel

    docs = load_table(spark, sf_dir, "documents")
    return pipeline_funnel(docs)


@query(
    "tx_dsir_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest({words_sql("text")}) AS w
        FROM documents
    ),
    corpus AS (SELECT w, COUNT(*) AS cc FROM toks GROUP BY w),
    corpus_n AS (SELECT SUM(cc) AS nc FROM corpus),
    target AS (SELECT w, COUNT(*) AS ct FROM toks WHERE source = 'src0' GROUP BY w),
    target_n AS (SELECT SUM(ct) AS nt FROM target),
    lifts AS (
        SELECT t.doc_id,
               CAST(COALESCE(tg.ct, 0) * (SELECT nc FROM corpus_n) * 1.0
                    / (c.cc * (SELECT nt FROM target_n))
                    AS DECIMAL(25,12)) AS lift
        FROM toks t
        JOIN corpus c ON c.w = t.w
        LEFT JOIN target tg ON tg.w = t.w
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(lift) AS DOUBLE) / COUNT(*), 6) AS importance_weight
    FROM lifts GROUP BY doc_id
    """,
)
def tx_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance weights (DSIR-style, lift variant): score
    every document by how much its unigrams look like a TARGET domain
    (source='src0') relative to the whole corpus — the reweighting signal
    for targeted pre-training mixtures. Per-word lift
    p_target(w)/p_corpus(w) is a ratio of exact integer counts; the
    per-doc mean sums decimal-cast lifts (order-independent) and divides
    once. Both frequency tables are word-vocabulary-sized -> broadcast;
    the corpus explodes once and never shuffles whole rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(X.words(F.col("text"))).alias("w")
    )
    # ONE frequency build carries both distributions (corpus count + a
    # conditional target count per word); the totals derive from that
    # vocabulary-sized table, so the corpus tokenizes exactly twice —
    # once for the counts build, once for the scoring join — instead of
    # once per subtree.
    counts = toks.groupBy("w").agg(
        F.count("*").alias("cc"),
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("ct"),
    )
    totals = counts.agg(F.sum("cc").alias("nc"), F.sum("ct").alias("nt"))
    lift = (F.col("ct") * F.col("nc") / (F.col("cc") * F.col("nt"))).cast(
        "decimal(25,12)"
    )
    return (
        toks.join(F.broadcast(counts), "w")
        .join(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum(lift).cast("double") / F.count("*"), 6).alias(
                "importance_weight"
            ),
        )
    )


@query(
    "tx_bm25_topk",
    oracle=f"""
    WITH occ AS (
        SELECT doc_id, unnest({words_sql("text")}) AS w
        FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM occ GROUP BY doc_id),
    stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                     COUNT(*) AS n_docs FROM dl),
    tf AS (
        SELECT doc_id, w, COUNT(*) AS tf FROM occ
        WHERE w IN ('vector', 'spark', 'merge', 'window', 'scan')
        GROUP BY doc_id, w
    ),
    dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    scored AS (
        SELECT t.doc_id,
               ROUND(LN((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                     * t.tf * 2.2
                     / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)), 8) AS s8
        FROM tf t JOIN dfreq d USING (w) JOIN dl l USING (doc_id)
        CROSS JOIN stats s
    ),
    per_doc AS (
        SELECT doc_id,
               ROUND(CAST(SUM(CAST(s8 AS DECIMAL(20,10))) AS DOUBLE), 6) AS bm25,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, bm25, n_terms_hit,
           ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
    FROM per_doc ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def tx_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75) for a fixed 5-term query against
    the corpus: per-(doc, term) scores from tf/df/dl/avgdl, summed per
    doc on exact decimals, top-20 by score with doc-id tiebreak. Scale
    shape: the doc-frequency and corpus stats are term-count-sized
    broadcasts, the per-doc fold is one groupBy, and the final top-20 is
    TakeOrdered (distributed partial top-k) — the rank window runs over
    the 20 survivors, never the corpus. Same LN/ROUND cross-engine
    determinism contract as tx_bigram_surprisal."""
    # k1=1.2, b=0.75 appear as literals so the Spark expression tree is
    # shaped exactly like the oracle SQL (same fold order -> same doubles)
    terms = ["vector", "spark", "merge", "window", "scan"]
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id",
        F.explode(words(F.col("text"))).alias("w"),
    )
    # ONE tokenize+shuffle: per-(doc, word) counts feed BOTH the doc
    # lengths (sum over words) and the query-term tf rows — deriving dl
    # straight from occ would re-run the corpus explode a second time.
    tfw = occ.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dl = tfw.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    tf = tfw.filter(F.col("w").isin(terms))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    s8 = F.round(
        idf * F.col("tf") * 2.2
        / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))),
        8,
    )
    per_doc = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("s8", s8)
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("s8").cast("decimal(20,10)")).cast("double"), 6).alias(
                "bm25"
            ),
            F.count("*").alias("n_terms_hit"),
        )
    )
    top = per_doc.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "bm25", "n_terms_hit", "rank"
    )


# shared oracle CTE: each document's bytes read as a 16-bit PCM clip
_AUDIO_P_CTE = """
    p AS (
        SELECT doc_id, text, length(text) AS n,
               (length(text) % 2 + 1) AS channels,
               (length(text) % 500 + 1) AS frames
        FROM documents
    )"""


def _audio_pcm_cte(keep: str = "", alias: str = "") -> str:
    """``p`` (channels and frames per document), ``s`` (each sample as an
    unsigned little-endian 16-bit value) and ``v`` (signed); every sample
    row also carries ``keep`` as ``alias``."""
    s_keep = f" {keep} AS {alias}," if alias else ""
    v_keep = f" {alias}," if alias else ""
    return _AUDIO_P_CTE + f""",
    s AS (
        SELECT doc_id,{s_keep}
               ascii(substring(text, ((2 * t.j) % n) + 1, 1))
               + 256 * ascii(substring(text, ((2 * t.j + 1) % n) + 1, 1)) AS u
        FROM p, UNNEST(generate_series(0, frames * channels - 1)) AS t(j)
    ),
    v AS (
        SELECT doc_id,{v_keep}
               CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
        FROM s
    )"""


def _wav_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document encoded as a WAV and decoded back to its PCM sample
    folds (M.decode_audio_samples)."""
    return M.decode_audio_samples(M.encode_wav(load_table(spark, sf_dir, "documents")))


@query(
    "mm_audio_rms",
    oracle="WITH "
    + _audio_pcm_cte("frames * channels", "n_int16")
    + """
    SELECT doc_id, CAST(MAX(n_int16) AS BIGINT) AS n_int16,
           CAST(MAX(ABS(v)) AS INTEGER) AS peak,
           ROUND(SQRT(CAST(SUM(CAST(v AS BIGINT) * v) AS DOUBLE)
                      / COUNT(*)), 6) AS rms
    FROM v GROUP BY doc_id
    """,
)
def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-level audio decode, hash-verified: each document's WAV
    (real RIFF container, text bytes as PCM) has its data chunk
    reinterpreted as little-endian int16 and folded to (count, peak,
    sum-of-squares) in numpy; RMS derives JVM-side so ROUND matches the
    oracle. The oracle rebuilds the exact samples from first principles
    (byte cycling + two-byte little-endian reassembly + sign fold) in
    SQL — a hash match proves the Python path decodes true PCM, not a
    stand-in. PCM needs no codec lib, so this closes the 'deep sample
    decode stubbed' gap for audio."""
    return _wav_samples(spark, sf_dir).select(
        "doc_id",
        "n_int16",
        "peak",
        F.round(
            F.sqrt(F.col("sum_sq").cast("double") / F.col("n_int16")), 6
        ).alias("rms"),
    )


# shared oracle CTEs: each document's bytes read as a 24-bit bitmap
_BMP_GEO_CTE = """
    p AS (
        SELECT doc_id, text, length(text) AS n,
               length(text) % 64 + 1 AS w,
               length(text) % 48 + 1 AS h
        FROM documents
    ),
    geo AS (
        SELECT doc_id, text, n, w, h,
               w * 3 + (4 - (w * 3) % 4) % 4 AS stride
        FROM p
    )"""


def _bmp_pixels_cte(*cols: str) -> str:
    """``p`` (bitmap width and height per document), ``geo`` (its padded
    row stride) and ``px`` (one byte per pixel channel, also carrying
    ``cols``)."""
    return _BMP_GEO_CTE + f""",
    px AS (
        SELECT doc_id,{"".join(f" {c}," for c in cols)}
               ascii(substring(text,
                   (((t.j // (3 * w)) * stride
                     + ((t.j // 3) % w) * 3
                     + t.j % 3) % n) + 1, 1)) AS b
        FROM geo, UNNEST(generate_series(0, h * w * 3 - 1)) AS t(j)
    )"""


@query(
    "mm_pixel_stats",
    oracle="WITH "
    + _bmp_pixels_cte("w", "h", "t.j % 3 AS ch")
    + """
    SELECT doc_id, CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(MAX(w) * MAX(h) AS BIGINT) AS n_pixels,
           ROUND(CAST(SUM(CASE WHEN ch = 0 THEN b ELSE 0 END) AS DOUBLE)
                 / (MAX(w) * MAX(h)), 6) AS mean_b,
           ROUND(CAST(SUM(CASE WHEN ch = 1 THEN b ELSE 0 END) AS DOUBLE)
                 / (MAX(w) * MAX(h)), 6) AS mean_g,
           ROUND(CAST(SUM(CASE WHEN ch = 2 THEN b ELSE 0 END) AS DOUBLE)
                 / (MAX(w) * MAX(h)), 6) AS mean_r
    FROM px GROUP BY doc_id
    """,
)
def mm_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE pixel decode, hash-verified: each document's text bytes
    become the pixel array of a valid 24-bit BMP (encode_bmp), then the
    real decoder reads the header geometry, strips the 4-byte row
    padding, and folds per-channel B/G/R sums in numpy — means derived
    JVM-side. The oracle rebuilds every pixel byte from first principles
    (stride arithmetic + byte cycling) in SQL; a hash match proves the
    Python path decodes the actual pixel array, not a checksum stand-in.
    Uncompressed BMP needs no codec lib, so with mm_audio_rms this
    closes the 'deep pixel/sample decode stubbed' gap for both
    modalities."""
    docs = load_table(spark, sf_dir, "documents")
    raw = M.decode_bmp_pixels(M.encode_bmp(docs))
    denom = F.col("n_pixels").cast("double")
    return raw.select(
        "doc_id",
        "width",
        "height",
        "n_pixels",
        F.round(F.col("sum_b").cast("double") / denom, 6).alias("mean_b"),
        F.round(F.col("sum_g").cast("double") / denom, 6).alias("mean_g"),
        F.round(F.col("sum_r").cast("double") / denom, 6).alias("mean_r"),
    )


# shared oracle CTE: bitmap width, height and padded row stride per document
_GEO_CTE = """
    geo AS (
        SELECT doc_id, text, length(text) AS n,
               length(text) % 64 + 1 AS w,
               length(text) % 48 + 1 AS h,
               (length(text) % 64 + 1) * 3
               + (4 - ((length(text) % 64 + 1) * 3) % 4) % 4 AS stride
        FROM documents
    )"""


@query(
    "mm_resize_real",
    oracle="WITH "
    + _GEO_CTE
    + """,
    cells AS (
        SELECT doc_id, t.j AS j,
               ascii(substring(text,
                   (((((t.j // 12) * h) // 3) * stride
                     + ((((t.j // 3) % 4) * w) // 4) * 3
                     + t.j % 3) % n) + 1, 1)) AS b
        FROM geo, UNNEST(generate_series(0, 35)) AS t(j)
    )
    SELECT doc_id, 4 AS out_w, 3 AS out_h,
           md5(string_agg(CAST(b AS VARCHAR), ',' ORDER BY j)) AS digest
    FROM cells GROUP BY doc_id
    """,
)
def mm_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize on TRUE pixels, hash-verified: every
    document's BMP is decoded and downsampled to 4x3 (src = r*h//out_h,
    c*w//out_w), and the md5 digest of the 36 sampled B,G,R bytes in
    scan order must equal the oracle's, which re-derives each sampled
    byte's file offset from stride arithmetic in SQL. Pins both the
    decode AND the sampling grid — a off-by-one in either side breaks
    the digest. (mm_resize remains the byte-level thumbnail twin for
    non-image payloads.)"""
    docs = load_table(spark, sf_dir, "documents")
    return M.resize_bmp_nearest(M.encode_bmp(docs))


def _frame_bytes_cte(where: str = "") -> str:
    """``p`` (samples per document), ``s`` (each sample's offset and size,
    filtered by ``where``) and ``b`` (one row per sample byte) of the
    synthetic video stream."""
    return f"""
    p AS (
        SELECT doc_id, text, length(text) AS n,
               length(text) % 24 + 1 AS ns
        FROM documents
    ),
    s AS (
        SELECT doc_id, text, n, t.i AS i, (t.i % 7) + 1 AS size_i,
               28 * (t.i // 7) + ((t.i % 7) * ((t.i % 7) + 1)) // 2 AS p0
        FROM p, UNNEST(generate_series(0, ns - 1)) AS t(i){where}
    ),
    b AS (
        SELECT doc_id, i, size_i, p0 + u.j AS off,
               ascii(substring(text, ((p0 + u.j) % n) + 1, 1)) AS byte
        FROM s, UNNEST(generate_series(0, size_i - 1)) AS u(j)
    )"""


#: ``_frame_bytes_cte`` and ``d``, the md5 digest ``g`` of each sample's bytes
_FRAME_DIGEST_CTES = (
    _frame_bytes_cte()
    + """,
    d AS (
        SELECT doc_id, i,
               md5(string_agg(CAST(byte AS VARCHAR), ',' ORDER BY off)) AS g
        FROM b GROUP BY doc_id, i
    )"""
)

#: ``_frame_bytes_cte`` and ``d``, the 60-bit signature ``sig`` of each
#: sample's bytes
_FRAME_SIG_CTES = (
    _frame_bytes_cte()
    + f""",
    d AS (
        SELECT doc_id, i,
               {md5_long_sql("string_agg(CAST(byte AS VARCHAR), ',' ORDER BY off)")} AS sig
        FROM b GROUP BY doc_id, i
    )"""
)


@query(
    "mm_frame_index",
    oracle="WITH "
    + _frame_bytes_cte("\n        WHERE t.i % 3 = 0")
    + """
    SELECT doc_id, CAST(i AS INTEGER) AS sample_idx,
           CAST(size_i AS INTEGER) AS size,
           md5(string_agg(CAST(byte AS VARCHAR), ',' ORDER BY off)) AS digest
    FROM b GROUP BY doc_id, i, size_i
    """,
)
def mm_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling on a REAL MP4 sample table, hash-verified: each
    document becomes an ISO BMFF file with a full stbl hierarchy
    (stts/stsc/stsz/stco), and every 3rd sample's bytes are located via
    the stsz sizes + stco chunk offset — never by byte stride — then
    digested. The oracle re-derives each sample's mdat-relative span
    from the closed-form prefix sum of the size cycle and rebuilds its
    bytes in SQL; a hash match proves the demuxer walk reads the actual
    sample table. This replaces byte-stride frame_sample as the
    production shape — codec decode of the located samples is the only
    remaining non-container step."""
    docs = load_table(spark, sf_dir, "documents")
    return M.video_frame_index(M.encode_mp4_samples(docs))


@query(
    "tx_source_cap",
    oracle=f"""
    WITH {_quality_ctes("base", "doc_id, source")},
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY quality_score DESC, doc_id) AS rk
        FROM q
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(MIN(CASE WHEN rk <= 40 THEN quality_score END) AS DOUBLE)
               AS cutoff_quality
    FROM r GROUP BY source
    """,
)
def tx_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency capping audit (operators/text.cap_per_source):
    keep the 40 highest-quality documents per source; report per source
    how many survive and the quality cutoff the cap implies."""
    ranked = X.cap_per_source(load_table(spark, sf_dir, "documents"))
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        F.min(F.when(F.col("kept"), F.col("quality_score")))
        .cast("double")
        .alias("cutoff_quality"),
    )


# dHash oracle CTE: rebuild the 7x9 grayscale thumbnail byte-by-byte from
# the same stride arithmetic as encode_bmp/synth_bmp, then fold the 56
# horizontal-neighbor bits into one BIGINT.  Shared by mm_dhash and
# mm_dhash_pairs so the pair oracle pins the identical hash definition.
_DHASH_CTE = (
    _GEO_CTE
    + """,
    cellbytes AS (
        SELECT doc_id, t.j // 27 AS r, (t.j // 3) % 9 AS c,
               ascii(substring(text,
                   (((h - 1 - ((t.j // 27) * h // 7)) * stride
                     + (((t.j // 3) % 9) * w // 9) * 3
                     + t.j % 3) % n) + 1, 1)) AS b
        FROM geo, UNNEST(generate_series(0, 188)) AS t(j)
    ),
    gray AS (
        SELECT doc_id, r, c, SUM(b) // 3 AS g
        FROM cellbytes GROUP BY doc_id, r, c
    ),
    bits AS (
        SELECT a.doc_id, a.r, a.c,
               CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
        FROM gray a JOIN gray b
          ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
        WHERE a.c < 8
    ),
    dh AS (
        SELECT doc_id,
               CAST(SUM(CAST(bit AS BIGINT) << (r * 8 + c)) AS BIGINT) AS dhash
        FROM bits GROUP BY doc_id
    )"""
)


@query(
    "mm_dhash",
    oracle="WITH " + _DHASH_CTE + """
    SELECT doc_id, dhash FROM dh
    """,
)
def mm_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual difference-hash on TRUE BMP pixels, hash-verified
    (operators/multimodal.dhash_bmp): nearest-sample a 7x9 grayscale
    thumbnail and set one bit per brighter-than-left neighbor. The
    oracle re-derives every sampled byte from stride arithmetic and
    folds the same 56 bits in SQL — a match pins decode, sampling grid,
    grayscale fold and bit order at once."""
    docs = load_table(spark, sf_dir, "documents")
    return M.dhash_bmp(M.encode_bmp(docs))


def _hash_band_pairs_sql(src: str, col: str, width: int, n_bands: int) -> str:
    """Band the 64-bit ``col`` of ``src`` into ``n_bands`` keys of ``width``
    bits (buckets capped at 1000), then the candidate pairs within
    hamming 6."""
    return f"""
    bands AS (
        SELECT doc_id, {col}, t.b AS band,
               ({col} >> (t.b * {width})) & {(1 << width) - 1} AS key
        FROM {src}, UNNEST(generate_series(0, {n_bands - 1})) AS t(b)
    ),
    capped AS (
        SELECT doc_id, {col}, band, key FROM bands
        QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= 1000
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.{col} AS ha, b.{col} AS hb
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 6
    """


@query(
    "mm_dhash_pairs",
    oracle="WITH " + _DHASH_CTE + "," + _hash_band_pairs_sql("dh", "dhash", 14, 4),
)
def mm_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs: pairs sharing one of the 56-bit dHash's
    4 x 14-bit bands (complete only below Hamming 4 by pigeonhole),
    capped buckets, exact bit_count(xor) <= 6 verify. The image twin of
    dd_simhash_banded; candidates come from one bucket shuffle, never
    all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = M.dhash_bmp(M.encode_bmp(docs))
    return M.dhash_near_pairs(hashes)


@query(
    "tx_bpe_pairs",
    oracle=f"""
    WITH wd AS (
        SELECT w AS word, COUNT(*) AS wc
        FROM documents,
             UNNEST({words_sql("text")}) AS t(w)
        GROUP BY w
    ),
    sym AS (SELECT word, wc, string_split(word, '') AS s FROM wd),
    pairs AS (
        SELECT wc, s[i] AS a, s[i + 1] AS b
        FROM sym, UNNEST(generate_series(1, len(s) - 1)) AS t(i)
    ),
    counts AS (
        SELECT a, b, CAST(SUM(wc) AS BIGINT) AS n FROM pairs GROUP BY a, b
    )
    SELECT a, b, n FROM counts
    ORDER BY n DESC, a, b LIMIT 20
    """,
)
def tx_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer learning, round-1 statistic (operators/text.
    bpe_pair_counts): the 20 most frequent adjacent character pairs over
    the frequency-weighted distinct-word table — the argmax of this table
    IS the first learned merge. The corpus collapses to vocabulary size
    before any per-symbol work, which is the property that makes
    tokenizer training tractable at 100 TB. (The full merge loop is
    operators/text.bpe_learn, pytest-pinned; each round re-evaluates
    exactly this query on the updated symbolization.)"""
    docs = load_table(spark, sf_dir, "documents")
    return (
        X.bpe_pair_counts(docs)
        .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


# shared oracle CTEs: signed 16-bucket feature hashing of each document's
# words, densified over every document
_HASH_EMBED_CTE = f"""
    toks AS (
        SELECT doc_id,
               {md5_long_sql("w")} AS h1
        FROM documents,
             UNNEST({words_sql("text")}) AS t(w)
    ),
    sums AS (
        SELECT doc_id, h1 % 16 AS bucket,
               SUM(CASE WHEN h1 % 32 < 16 THEN 1 ELSE -1 END) AS s
        FROM toks GROUP BY doc_id, h1 % 16
    ),
    dense AS (
        SELECT d.doc_id, g.b AS bucket,
               CAST(COALESCE(sums.s, 0) AS DOUBLE) AS v
        FROM (SELECT DISTINCT doc_id FROM documents) d
        CROSS JOIN (SELECT UNNEST(generate_series(0, 15)) AS b) g
        LEFT JOIN sums ON sums.doc_id = d.doc_id AND sums.bucket = g.b
    )"""


@query(
    "tx_hash_embed",
    oracle="WITH "
    + _HASH_EMBED_CTE
    + """,
    norms AS (
        SELECT doc_id, SUM(v * v) AS nsq,
               SUM(CASE WHEN v != 0 THEN 1 ELSE 0 END) AS nnz_dense
        FROM dense GROUP BY doc_id
    ),
    nz AS (SELECT doc_id, COUNT(*) AS nnz FROM sums GROUP BY doc_id),
    vecs AS (
        SELECT dense.doc_id,
               md5(string_agg(
                   CAST(CAST(CASE WHEN norms.nsq > 0
                             THEN ROUND(v / SQRT(norms.nsq), 6)
                             ELSE v END AS DECIMAL(9,6)) AS VARCHAR),
                   ',' ORDER BY bucket)) AS h
        FROM dense JOIN norms ON norms.doc_id = dense.doc_id
        GROUP BY dense.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(nz.nnz, 0) AS INTEGER) AS nnz,
           COALESCE(v.h, md5('')) AS vec_hash
    FROM documents d
    LEFT JOIN nz ON nz.doc_id = d.doc_id
    LEFT JOIN vecs v ON v.doc_id = d.doc_id
    """,
)
def tx_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed 16-dim document embeddings (operators/text.
    hash_embed): the vocabulary-free text -> vector bridge for running
    the ANN/SemDeDup stack on corpora without embeddings. The oracle
    rebuilds every signed bucket sum and the L2 normalization in SQL;
    the md5 certificate pins all 16 components in order."""
    # spread_scan: round-12 interleaved A/B (sf0.1): 1.28 -> 1.00s
    # median (1.28x), min 1.05 -> 0.93.
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return X.hash_embed(docs)


@query(
    "tx_text_ann",
    oracle="WITH "
    + _HASH_EMBED_CTE
    + """,
    norms AS (SELECT doc_id, SUM(v * v) AS nsq FROM dense GROUP BY doc_id),
    unit AS (
        SELECT dense.doc_id, bucket,
               CASE WHEN norms.nsq > 0 THEN ROUND(v / SQRT(norms.nsq), 6)
                    ELSE v END AS u
        FROM dense JOIN norms ON norms.doc_id = dense.doc_id
    ),
    scored AS (
        SELECT p.doc_id AS query_id, c.doc_id AS neighbor_id,
               ROUND(SUM(p.u * c.u), 4) AS dot4
        FROM unit p JOIN unit c
          ON p.bucket = c.bucket AND p.doc_id < 4 AND p.doc_id != c.doc_id
        GROUP BY p.doc_id, c.doc_id
    )
    SELECT query_id, neighbor_id, dot4, CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY dot4 DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
)
def tx_text_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text retrieval WITHOUT a precomputed embedding column:
    feature-hash every document into a 16-dim unit vector
    (operators/text.hash_embed_vectors) and run exact top-5 dot-product
    search for 4 probe documents over the hashed space — the composed
    pipeline (tokenize -> hash-embed -> ANN) a no-embedding corpus runs.
    Probes broadcast; the corpus never shuffles for the scoring pass."""
    from odbc2parquet_spark.operators.similarity import _fold_sum

    # spread_scan: round-12 interleaved A/B (sf0.1): 1.36 -> 1.17s
    # median, min 1.32 -> 1.06.
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    v = X.hash_embed_vectors(docs).select("doc_id", "vec")
    probes = F.broadcast(
        v.filter(F.col("doc_id") < 4).withColumnsRenamed(
            {"doc_id": "query_id", "vec": "qvec"}
        )
    )
    scored = (
        v.join(probes, F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            F.round(
                _fold_sum(
                    F.zip_with(
                        F.col("qvec"), F.col("vec"), lambda a, b: a * b
                    )
                ),
                4,
            ).alias("dot4"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot4"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "dot4", "rank")
    )


@query(
    "mm_png_stats",
    oracle="""
    WITH p AS (
        SELECT doc_id, text, length(text) AS n,
               length(text) % 48 + 1 AS w,
               length(text) % 32 + 1 AS h
        FROM documents
    ),
    px AS (
        SELECT doc_id, w, h, t.j % 3 AS ch,
               ascii(substring(text, (t.j % n) + 1, 1)) AS b
        FROM p, UNNEST(generate_series(0, h * w * 3 - 1)) AS t(j)
    )
    SELECT doc_id, CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(MAX(w) * MAX(h) AS BIGINT) AS n_pixels,
           CAST(SUM(CASE WHEN ch = 2 THEN b ELSE 0 END) AS BIGINT) AS sum_b,
           CAST(SUM(CASE WHEN ch = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN ch = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_r
    FROM px GROUP BY doc_id
    """,
)
def mm_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE COMPRESSED-codec decode, hash-verified: each document's text
    becomes the pixel array of a valid zlib-compressed 8-bit RGB PNG
    (encode_png), and the decoder walks the chunk stream (CRC-checked),
    INFLATES the entropy-coded IDAT with stock zlib, reverses scanline
    filtering and folds per-channel sums. The oracle rebuilds every pixel
    byte from the cycling rule in SQL — a match proves a genuine
    DEFLATE-compressed image decode with no imaging library, closing the
    'compressed codecs stay stubbed' caveat for PNG. (JPEG entropy
    decode and video codecs remain the documented external-lib line.)"""
    docs = load_table(spark, sf_dir, "documents")
    raw = M.decode_png_pixels(M.encode_png(docs))
    return raw.select(
        "doc_id", "width", "height", "n_pixels", "sum_b", "sum_g", "sum_r"
    )


@query(
    "tx_bpe_learn50",
    oracle="""
    SELECT CAST(merge_rank AS INTEGER) AS merge_rank, a, b FROM (VALUES
        (1, 'e', 'r'), (2, 'i', 'n'), (3, 'o', 'w'), (4, 's', 't'),
        (5, 'l', 'u'), (6, 'p', 'a'), (7, 'c', 'h'), (8, 'g', 'g'),
        (9, 'o', 'r'), (10, 'm', 'er'), (11, 'a', 't'), (12, 's', 'h'),
        (13, 'c', 'u'), (14, 'f', 'i'), (15, 'l', 'l'), (16, 'g', 'e'),
        (17, 'd', 'ow'), (18, 'w', 'in'), (19, 'pa', 'r'), (20, 'j', 'o'),
        (21, 'a', 'sh'), (22, 'at', 'ch'), (23, 's', 'c'),
        (24, 'cu', 'st'), (25, 'lu', 'm'), (26, 'fi', 'l'),
        (27, 't', 'er'), (28, 'mer', 'ge'), (29, 'jo', 'in'),
        (30, 'h', 'ash'), (31, 'r', 'ow'), (32, 'b', 'atch'),
        (33, 'a', 'n'), (34, 'c', 'o'), (35, 'fil', 'ter'),
        (36, 's', 'm'), (37, 'd', 'er'), (38, 't', 'or'),
        (39, 'sc', 'an'), (40, 'co', 'lum'), (41, 'cust', 'o'),
        (42, 'a', 'll'), (43, 'l', 'ow'), (44, 'c', 'tor'),
        (45, 'or', 'der'), (46, 'v', 'e'), (47, 'd', 'at'),
        (48, 'u', 'p'), (49, 'colum', 'n'), (50, 'custo', 'mer')
    ) AS t(merge_rank, a, b)
    ORDER BY merge_rank
    """,
)
def tx_bpe_learn50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape BPE learning (operators/text.bpe_learn_batched):
    50 merges in ~5 Spark rounds of 10 symbol-disjoint merges each —
    one bounded pair-count TakeOrdered per round plus one Arrow-batched
    merge application over the distinct-word symbol table, instead of 50
    driver round-trips. Exactness is pinned by pytest — batch=1
    reproduces sequential bpe_learn merge-for-merge, and batches are
    deterministic across runs. The oracle is the full learned merge
    table pinned as literal VALUES: the algorithm is seed-free and the
    corpus fixed, so the 50 merges at the driver's gate SF (0.01) are a
    constant — any drift in tokenize/count/tie-break logic flips the
    hash. (The pin is SF-specific by construction; other SFs are
    covered by the pytest equivalence properties.)
    Emits the learned merge table (merge_rank, a, b).

    NOTE: the oracle pins constants measured on the sf0.01 corpus (the
    driver's correctness gate); running this pair at another SF
    mismatches BY DESIGN — the algorithm itself is SF-independent and
    pytest-pinned.
    """
    from odbc2parquet_spark.operators.text import bpe_learn_batched

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_learn_batched(docs)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, a string, b string",
    )


@query(
    "tx_pps_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
               {md5_long_sql("CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
    ),
    tot AS (SELECT SUM(w) AS tw FROM keyed),
    cums AS (
        SELECT doc_id, w, SUM(w) OVER (ORDER BY h, doc_id) AS cum FROM keyed
    )
    SELECT * FROM (
        SELECT doc_id, w AS weight,
               CAST(LEAST(500, GREATEST(0, (2 * 500 * cum + tw - 1) // (2 * tw)))
                  - LEAST(500, GREATEST(0, (2 * 500 * (cum - w) + tw - 1) // (2 * tw)))
                  AS BIGINT) AS n_hits
        FROM cums CROSS JOIN tot
    ) WHERE n_hits > 0
    """,
)
def tx_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus subsample via systematic PPS sampling
    (operators/sampling.pps_sample): exactly 500 draws, expected draw
    count k*w/W per document, hash-permuted order, ALL-INTEGER hit
    arithmetic (no pow/log priorities whose 1-ulp libm differences flip
    ranks across engines — the reason this certificate can hash-match).
    Spark side runs the two-pass prefix sum (per-partition sums +
    broadcast offsets, no global-window funnel); the oracle is the
    one-window reference."""
    from odbc2parquet_spark.operators.sampling import pps_sample

    docs = load_table(spark, sf_dir, "documents")
    return pps_sample(docs)


@query(
    "tx_zipf_fit",
    bench=False,
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (
        SELECT w, COUNT(*) AS c FROM words WHERE w <> '' GROUP BY 1
    ),
    top AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r
        FROM wc ORDER BY c DESC, w LIMIT 1000
    ),
    t AS (
        SELECT CAST(ROUND(LN(r), 8) AS DECIMAL(18,8)) AS x,
               CAST(ROUND(LN(c), 8) AS DECIMAL(18,8)) AS y
        FROM top
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx
        FROM t
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) AS intercept
    FROM s
    """,
)
def tx_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope/intercept of
    ln(freq) on ln(rank) over the top-1000 terms — the corpus-health
    check that catches template/boilerplate-dominated or synthetic
    sources (natural text slopes ~ -1; flatter means generated word
    soup, steeper means a few tokens dominating). Scale shape: word
    counts partial-aggregate map-side, the top-1000 is TakeOrdered
    (distributed partial top-k), and all regression sums run on 1000
    rows of 8-decimal tokens summed as exact decimals (the
    rolling_trend determinism contract) — the final closed-form slope
    is mirrored IEEE arithmetic on identical doubles."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(
                words(F.col("text"))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    top = (
        wc.orderBy(F.desc("c"), F.asc("w"))
        .limit(1000)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), F.asc("w")))
            .alias("r"),
        )
    )
    t = top.select(
        F.round(F.log(F.col("r").cast("double")), 8)
        .cast("decimal(18,8)")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")), 8)
        .cast("decimal(18,8)")
        .alias("y"),
    )
    s = t.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den, 6
        ).alias("slope"),
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) / den, 6
        ).alias("intercept"),
    )


@query(
    "tx_keyword_topk",
    bench=False,
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (
        SELECT doc_id, w, COUNT(*) AS tf
        FROM words WHERE w <> '' GROUP BY 1, 2
    ),
    dfreq AS (
        SELECT w, COUNT(*) AS df FROM tf GROUP BY 1
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
        SELECT t.doc_id, t.w,
               ROUND(t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df), 8) AS s8
        FROM tf t JOIN dfreq d USING (w) CROSS JOIN nd n
    ),
    ranked AS (
        SELECT doc_id, w, s8,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY s8 DESC, w) AS rnk
        FROM scored
    )
    SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, w AS term,
           ROUND(s8, 6) AS score
    FROM ranked WHERE rnk <= 3 AND doc_id % 17 = 0
    ORDER BY doc_id, rnk
    """,
)
def tx_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF
    (tf * ln(n_docs/df)), the tagging step of a curation pipeline
    (complements corpus-level tx_tfidf_density and retrieval-side
    tx_bm25_topk). Scale shape: per-(doc, term) counts partial-aggregate
    map-side, the doc-frequency side is a term-cardinality broadcast,
    and the top-3 is a KEYED window (WindowGroupLimit pushes the rank
    filter pre-shuffle) — no global windows. Ranking runs on 8-decimal
    rounded scores with term tiebreak, the bm25 determinism contract;
    output thinned to doc_id % 17 for a bounded certificate."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                words(F.col("text"))
            ).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    nd = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                8,
            ).alias("s8"),
        )
    )
    wl = Window.partitionBy("doc_id").orderBy(F.desc("s8"), F.asc("w"))
    return (
        scored.withColumn("rnk", F.row_number().over(wl))
        .filter((F.col("rnk") <= 3) & (F.col("doc_id") % 17 == 0))
        .select(
            "doc_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("w").alias("term"),
            F.round("s8", 6).alias("score"),
        )
        .orderBy("doc_id", "rnk")
    )


@query(
    "tx_bpe_encode",
    oracle="""
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(fertility AS DOUBLE) AS fertility
    FROM (VALUES
        ('src0', 25, 1435, 4717, 3.287108),
        ('src1', 25, 1540, 5100, 3.311688),
        ('src10', 25, 1303, 4246, 3.258634),
        ('src11', 25, 1522, 4988, 3.277267),
        ('src12', 25, 1272, 4122, 3.240566),
        ('src13', 25, 1553, 5028, 3.237605),
        ('src14', 25, 1318, 4304, 3.265554),
        ('src15', 25, 1298, 4212, 3.244992),
        ('src16', 25, 1351, 4456, 3.298298),
        ('src17', 25, 1373, 4398, 3.203205),
        ('src18', 25, 1364, 4486, 3.288856),
        ('src19', 25, 1147, 3745, 3.265039),
        ('src2', 25, 1407, 4625, 3.287136),
        ('src3', 25, 1384, 4496, 3.248555),
        ('src4', 25, 1294, 4210, 3.253478),
        ('src5', 25, 1329, 4327, 3.255831),
        ('src6', 25, 1266, 4153, 3.280411),
        ('src7', 25, 1507, 4918, 3.263437),
        ('src8', 25, 1136, 3773, 3.321303),
        ('src9', 25, 1366, 4480, 3.279649)
    ) AS t(source, n_docs, n_words, n_tokens, fertility)
    ORDER BY source
    """,
)
def tx_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: learn 20 BPE merges
    (operators/text.bpe_learn_batched — the production batched learner),
    encode every document with them (operators/text.
    bpe_vocab_token_counts — distinct words encoded once in one
    Arrow-batched pass), and report per-source token counts and
    FERTILITY (tokens per whitespace word) — the standard tokenizer-
    efficiency metric a data pipeline tracks per corpus slice. Scale
    shape: corpus collapses to (source, word, count) with map-side
    combine before the vocabulary equi-join, so shuffle volume is
    vocabulary-sized, not token-sized. Like tx_bpe_learn50, the learned
    merges at the gate SF are a seed-free constant, so the oracle pins
    the full per-source report as literal VALUES — any drift in
    learn/encode/count logic flips the hash. (SF-specific pin by
    construction, mismatching at any other SF by design, as
    tx_bpe_learn50's does; cross-SF behavior is covered by the bpe
    pytest properties.)
    """
    docs = load_table(spark, sf_dir, "documents")
    merges = X.bpe_learn_batched(docs, n_merges=20)
    vocab = X.bpe_vocab_token_counts(docs, merges)
    sw = (
        docs.select("source", F.explode(X.words(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
    )
    per_source = sw.join(vocab, "word").groupBy("source").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.sum(F.col("c") * F.col("n_tok")).cast("long").alias("n_tokens"),
    )
    n_docs = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    return (
        n_docs.join(per_source, "source")
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
        )
        .orderBy("source")
    )


@query(
    "mm_scene_cut",
    oracle="WITH "
    + _FRAME_SIG_CTES
    + """,
    j AS (
        SELECT doc_id, sig,
               LAG(sig) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM d
    ),
    k AS (
        SELECT doc_id,
               CASE WHEN prev IS NULL THEN NULL
                    ELSE bit_count(xor(sig, prev)) END AS dist
        FROM j
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(COALESCE(SUM(CASE WHEN dist >= 32 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_cuts,
           CAST(COALESCE(MAX(dist), 0) AS INTEGER) AS max_jump
    FROM k GROUP BY doc_id
    """,
)
def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection on REAL MP4 sample tables (operators/
    multimodal.video_scene_cuts): the demuxer walk locates every sample
    via stsz/stco, consecutive samples compare by Hamming distance of
    their 60-bit digest prefixes, jumps >= 32 bits count as cuts. The
    oracle rebuilds each sample's bytes in SQL from the closed-form size
    cycle (the mm_frame_index certificate, extended to every sample) and
    replays the lag/XOR/popcount pipeline — a hash match certifies the
    whole demux -> signature -> jump chain. Pure integer arithmetic
    end-to-end; one keyed window per document."""
    docs = load_table(spark, sf_dir, "documents")
    return M.video_scene_cuts(M.encode_mp4_samples(docs))


@query(
    "tx_reservoir_sample",
    oracle=f"""
    WITH a AS (
        SELECT lang, doc_id, n_chars,
               ROUND(LN(
                   ({md5_long_sql("CAST(doc_id AS VARCHAR)")} + 1) / {HASH_DOMAIN}.0), 9)
                   / n_chars AS score
        FROM documents WHERE n_chars > 0
    ),
    r AS (
        SELECT lang, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY score DESC, doc_id) AS rn,
               score
        FROM a
    )
    SELECT lang, doc_id, n_chars, CAST(rn AS BIGINT) AS rn,
           ROUND(score, 6) AS score6
    FROM r WHERE rn <= 16
    """,
)
def tx_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample per language (operators/sampling.
    reservoir_sample, Efraimidis-Spirakis A-Res, k=16, weight=n_chars):
    length-proportional without-replacement document sampling whose
    SELECTION is a pure row function — reproducible across runs,
    partitionings, and engines. The per-group top-k runs as a
    WindowGroupLimit partial below the shuffle, so reservoir semantics
    cost one bounded window, never a global sort."""
    from odbc2parquet_spark.operators.sampling import reservoir_sample

    docs = load_table(spark, sf_dir, "documents")
    out = reservoir_sample(docs.select("lang", "doc_id", "n_chars"))
    return out.select("lang", "doc_id", "n_chars", F.col("rn").cast("long").alias("rn"), "score6")


@query(
    "tx_novelty",
    oracle="WITH "
    + _bigrams_cte(md5_long_sql("u") + " AS gh")
    + """,
    f AS (
        SELECT doc_id, gh,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY gh)
                    THEN 1 ELSE 0 END AS novel
        FROM g
    )
    SELECT doc_id, COUNT(*) AS n_grams,
           CAST(SUM(novel) AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM f GROUP BY doc_id
    """,
)
def tx_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen bigram novelty in corpus order (operators/text.
    novelty_scores): share of each document's distinct bigrams that no
    earlier doc_id contains — the incremental-information signal for
    curriculum ordering and templated-tail detection. Grams shuffle as
    60-bit hashes (one keyed exchange of (doc_id, long) rows), first
    owner is a MIN window, no self-join."""
    # spread_scan: round-12 interleaved A/B (sf0.1): 1.05 -> 0.87s
    # median, min 0.97 -> 0.80.
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return X.novelty_scores(docs)


@query(
    "tx_kfold_assign",
    oracle=f"""
    SELECT lang,
           {md5_long_sql("CAST(doc_id AS VARCHAR)")} % 5 AS fold,
           COUNT(*) AS n_rows
    FROM documents
    GROUP BY 1, 2
    """,
)
def tx_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold CV assignment (operators/sampling.
    kfold_assign): fold is a pure function of doc_id, reproducible on
    any engine with no stored assignment table; output is the
    per-(lang, fold) balance certificate. Balance is hash-expectation,
    never a per-stratum window — |strata| tasks must not carry the
    corpus."""
    from odbc2parquet_spark.operators.sampling import kfold_assign

    docs = load_table(spark, sf_dir, "documents")
    return kfold_assign(docs)


@query(
    "tx_temperature_mix",
    oracle=f"""
    WITH counts AS (
        SELECT lang AS src, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    rated AS (
        SELECT src, n, SQRT(n) AS w, n / SQRT(n) AS ratio FROM counts
    ),"""
    + _rate_sample_sql("lang"),
)
def tx_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling at alpha = 0.5 across LANGUAGES
    (operators/sampling.temperature_sample): the multilingual-LM
    rebalance — keep-rates proportional to sqrt(N_l)/N_l lift
    low-resource languages relative to the head (en at 4x fr here gets
    halved relative weight), binding language kept whole, derived wholly
    in-plan from per-language counts. sqrt is the one power IEEE
    requires correctly rounded, so both engines compute identical
    thresholds and select the EXACT same rows."""
    from odbc2parquet_spark.operators.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_sample(docs).select("doc_id", "lang")


@query(
    "mm_video_neardup",
    oracle="WITH "
    + _FRAME_DIGEST_CTES
    + f""",
    shh AS (
        SELECT DISTINCT doc_id AS id,
               {md5_long_sql("g")} AS gh
        FROM d
    ),"""
    + _prefix_jaccard_sql(3),
)
def mm_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal near-duplicate VIDEO detection: real MP4 sample
    tables demux to per-sample digests (operators/multimodal.
    video_frame_index, every sample), each video becomes its digest SET,
    and the exact prefix-filtered Jaccard join (operators/dedup.
    prefix_jaccard_pairs — same PPJoin machinery as dd_prefix_jaccard)
    finds videos sharing >= 0.6 of their content samples, recall 1.0.
    The oracle rebuilds every sample's bytes in SQL from the closed-form
    size cycle and replays the whole demux -> digest -> prefix-join
    pipeline — one hash match certifies the composition end-to-end. The
    multimodal stack FEEDING the dedup stack: at 100 TB the digest sets
    are the only thing that leaves the demux pass (longs, never video
    bytes)."""
    from odbc2parquet_spark.operators.dedup import prefix_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    idx = M.video_frame_index(M.encode_mp4_samples(docs), every_k=1).filter(
        F.col("sample_idx").isNotNull()
    )
    sets = idx.select(F.col("doc_id").alias("id"), F.col("digest").alias("g")).distinct()
    return prefix_jaccard_pairs(sets, threshold=0.6)


@query(
    "mm_audio_neardup",
    oracle="WITH "
    + _audio_pcm_cte("t.j", "j")
    + f""",
    w AS (
        SELECT doc_id, j // 64 AS widx,
               SUM(CAST(v AS BIGINT) * v) AS energy
        FROM v GROUP BY doc_id, j // 64
    ),
    shh AS (
        SELECT DISTINCT doc_id AS id,
               {md5_long_sql(
                   "CAST(widx AS VARCHAR) || ':'"
                   " || CAST(length(bin(energy + 1)) AS VARCHAR) || ':'"
                   " || CAST((energy + 1) // CAST(POWER(2,"
                   " GREATEST(length(bin(energy + 1)) - 6, 0)) AS BIGINT) AS VARCHAR)"
               )} AS gh
        FROM w
    ),"""
    + _prefix_jaccard_sql(4),
)
def mm_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection, the WAV sibling of
    mm_video_neardup: real RIFF payloads decode to int16 PCM, fixed
    64-sample windows quantize their EXACT int64 energy to a
    top-6-bit loudness bucket (~1.5% tolerance, pure integer arithmetic
    any engine reproduces), and the windowed-energy shingle sets run
    through the exact prefix-filtered Jaccard join at 0.8 — recall 1.0,
    no all-pairs shape, only (long, short-string) rows leave the Arrow
    decode. The oracle rebuilds the PCM stream in SQL and replays the
    whole decode -> window -> quantize -> prefix-join chain."""
    from odbc2parquet_spark.operators.dedup import prefix_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    sh = M.audio_energy_shingles(M.encode_wav(docs)).select(
        F.col("doc_id").alias("id"), "g"
    ).distinct()
    return prefix_jaccard_pairs(sh)


# shared oracle CTEs: each document's words, its adjacent word pairs, and
# the corpus pair and context counts
_BIGRAM_COUNTS_CTE = f"""
    w AS (
        SELECT doc_id, {words_sql("text")} AS ws
        FROM documents
    ),
    bg AS (
        SELECT doc_id, ws[i] AS a, ws[i+1] AS b
        FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2
    ),
    cab AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY a, b),
    ctx AS (SELECT a, COUNT(*) AS ctx FROM bg GROUP BY a)"""

_LM_CTE = (
    _BIGRAM_COUNTS_CTE
    + """,
    vocab AS (
        SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT UNNEST(ws) AS w FROM w)
    ),
    terms AS (
        SELECT doc_id,
               CAST(ROUND(LN((2 * cab + 1) / (2 * ctx + v)), 6)
                    AS DECIMAL(18,6)) AS term
        FROM bg JOIN cab USING (a, b) JOIN ctx USING (a) CROSS JOIN vocab
    ),
    lm AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
        FROM terms GROUP BY doc_id
    )
"""
)


@query(
    "tx_bigram_lm_score",
    oracle="WITH " + _LM_CTE + "\n    SELECT doc_id, n_bigrams, avg_logprob FROM lm",
)
def tx_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional add-0.5-smoothed bigram LM average log-probability per
    document, self-trained on the corpus — the CCNet-style perplexity
    quality signal without an external model (reference has no LM ops;
    this is training-pipeline extension surface). Exact-integer
    probability ratios, one ln per bigram rounded then decimal-summed —
    see operators/text.bigram_lm_scores for the determinism and 100 TB
    shape."""
    return X.bigram_lm_scores(load_table(spark, sf_dir, "documents"))


def _lm_terciles(lm: DataFrame, w: WindowSpec, *cols: str) -> DataFrame:
    """``cols`` and avg_logprob of ``lm`` with ``bucket``, the row's
    LM-score tercile in window ``w``: head (most fluent), middle, tail."""
    nt = F.ntile(3).over(w)
    return lm.select(
        *cols,
        "avg_logprob",
        F.when(nt == 1, F.lit("head"))
        .when(nt == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


@query(
    "tx_ccnet_buckets",
    oracle="WITH " + _LM_CTE + """
    SELECT doc_id, avg_logprob,
           CASE NTILE(3) OVER (ORDER BY avg_logprob DESC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM lm
    """,
)
def tx_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2020): documents
    bucketed into LM-score terciles (head = most fluent). Deterministic:
    NTILE over the total order (score DESC, doc_id). Scale shape: the
    tercile assignment is a global sort — Spark range-partitions it; a
    100 TB deployment would swap NTILE for two-pass percentile cutoffs
    (approx_percentile then a broadcast compare), the same
    cutover documented for q_exact_median."""
    lm = X.bigram_lm_scores(load_table(spark, sf_dir, "documents"))
    return _lm_terciles(lm, Window.orderBy(F.desc("avg_logprob"), F.asc("doc_id")), "doc_id")


_GOPHER_CTE = f"""
    gw AS (
        SELECT doc_id, text,
               {words_sql("text")} AS ws,
               string_split(text, chr(10)) AS lines
        FROM documents
    ),
    gm AS (
        SELECT doc_id,
               len(ws) AS n_words,
               length(array_to_string(ws, '')) AS sum_len,
               length(text) - length(replace(text, '#', '')) AS n_hash,
               length(text) - length(replace(text, '...', '')) AS ell3,
               len(lines) AS n_lines,
               len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %'))
                   AS n_bullet,
               len(list_filter(lines, l -> l LIKE '%...')) AS n_ell_lines,
               len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
               (CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(ws, 'a') THEN 1 ELSE 0 END)
                   AS n_stop
        FROM gw
    ),
    gr AS (
        SELECT doc_id, n_words,
               CASE WHEN n_words >= 50 AND n_words <= 100000
                    THEN 1 ELSE 0 END AS ok_word_count,
               CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words
                    THEN 1 ELSE 0 END AS ok_mean_word_len,
               CASE WHEN 10 * (3 * n_hash + ell3) < 3 * n_words
                    THEN 1 ELSE 0 END AS ok_symbol_ratio,
               CASE WHEN 10 * n_bullet < 9 * n_lines
                    THEN 1 ELSE 0 END AS ok_bullet,
               CASE WHEN 10 * n_ell_lines < 3 * n_lines
                    THEN 1 ELSE 0 END AS ok_ellipsis,
               CASE WHEN 5 * n_alpha >= 4 * n_words
                    THEN 1 ELSE 0 END AS ok_alpha,
               CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS ok_stopwords
        FROM gm
    ),
    gopher AS (
        SELECT *,
               CASE WHEN ok_word_count = 1 AND ok_mean_word_len = 1
                     AND ok_symbol_ratio = 1 AND ok_bullet = 1
                     AND ok_ellipsis = 1 AND ok_alpha = 1
                     AND ok_stopwords = 1
                    THEN 1 ELSE 0 END AS keep_doc
        FROM gr
    )
"""


@query(
    "tx_gopher_rules",
    oracle="WITH " + _GOPHER_CTE + "\n    SELECT * FROM gopher",
)
def tx_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021 §A1.1): per-doc
    0/1 rule flags + combined keep verdict, every threshold evaluated in
    cross-multiplied exact-integer form. Zero shuffles — a codegen'd
    scan, the first gate of a 100 TB curation funnel. The stopword probe
    set is THIS corpus's function-word inventory ('the', 'a' — the
    synthetic vocabulary has no other English function words)."""
    return X.gopher_rules(load_table(spark, sf_dir, "documents"))


@query(
    "tx_curation_verdict",
    oracle="WITH " + _GOPHER_CTE + "," + _LM_CTE + """,
    buckets AS (
        SELECT doc_id,
               CASE NTILE(3) OVER (ORDER BY avg_logprob DESC, doc_id)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
               END AS bucket
        FROM lm
    )
    SELECT g.doc_id,
           CASE WHEN g.keep_doc = 0 THEN 'drop_rules'
                WHEN b.bucket = 'tail' THEN 'drop_tail'
                ELSE 'keep' END AS verdict,
           b.bucket
    FROM gopher g JOIN buckets b ON b.doc_id = g.doc_id
    """,
)
def tx_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation decision (the RefinedWeb/Dolma funnel in
    miniature): Gopher rules first (cheap scan), then the LM tercile for
    survivors — verdict 'drop_rules' / 'drop_tail' / 'keep' with the
    bucket attached. Composes tx_gopher_rules and tx_ccnet_buckets;
    the join is doc-keyed (no new shuffle shape)."""
    docs = load_table(spark, sf_dir, "documents")
    rules = X.gopher_rules(docs).select("doc_id", "keep_doc")
    lm = X.bigram_lm_scores(docs)
    w = Window.orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
    nt = F.ntile(3).over(w)
    buckets = lm.select(
        "doc_id",
        F.when(nt == 1, F.lit("head"))
        .when(nt == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return rules.join(buckets, "doc_id").select(
        "doc_id",
        F.when(F.col("keep_doc") == 0, F.lit("drop_rules"))
        .when(F.col("bucket") == "tail", F.lit("drop_tail"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
        "bucket",
    )


@query(
    "mm_audio_vad",
    oracle="WITH "
    + _audio_pcm_cte("(t.j // 64)", "frame_idx")
    + """,
    f AS (
        SELECT doc_id, frame_idx, COUNT(*) AS nf,
               SUM(CAST(v AS BIGINT) * v) AS ss
        FROM v GROUP BY doc_id, frame_idx
    ),
    act AS (
        SELECT doc_id, frame_idx,
               frame_idx - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY frame_idx) AS grp
        FROM f WHERE ss >= 650000000 * nf
    )
    SELECT doc_id, MIN(frame_idx) AS seg_start, MAX(frame_idx) AS seg_end,
           COUNT(*) AS n_frames
    FROM act GROUP BY doc_id, grp
    """,
)
def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold voice-activity detection over REAL decoded PCM:
    64-sample frames from the WAV data chunk (exact int64 energies via
    operators/multimodal.decode_audio_frame_energy), a frame is ACTIVE
    when its mean square >= 650e6 (compared in cross-multiplied integer
    form, ss >= T*n — no division), and consecutive active frames merge
    into segments via the islands trick (frame_idx minus active-rank).
    Emits (doc_id, seg_start, seg_end, n_frames) per voiced segment —
    the trim/segment primitive an audio-curation pipeline runs before
    transcription. Scale shape: decode is an Arrow-batched scan; the
    islands window is doc-keyed (no global state); output is
    segment-sized. The oracle rebuilds the exact samples byte-by-byte in
    SQL, so a hash match certifies true sample-level decode."""
    docs = load_table(spark, sf_dir, "documents")
    frames = M.decode_audio_frame_energy(M.encode_wav(docs))
    active = frames.filter(
        F.col("sum_sq") >= F.lit(650000000).cast("long") * F.col("n")
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    act = active.withColumn(
        "grp", F.col("frame_idx") - F.row_number().over(w)
    )
    return act.groupBy("doc_id", "grp").agg(
        F.min("frame_idx").alias("seg_start"),
        F.max("frame_idx").alias("seg_end"),
        F.count("*").alias("n_frames"),
    ).drop("grp")


@query(
    "tx_kneser_ney_score",
    oracle="WITH "
    + _BIGRAM_COUNTS_CTE
    + """,
    types AS (SELECT DISTINCT a, b FROM bg),
    n1a AS (SELECT a, COUNT(*) AS n1a FROM types GROUP BY a),
    n1b AS (SELECT b, COUNT(*) AS n1b FROM types GROUP BY b),
    tt AS (SELECT COUNT(*) AS t FROM types),
    terms AS (
        SELECT doc_id,
               CAST(ROUND(LN(
                   ((4 * cab - 3) * t + 3 * n1a * n1b)
                   / (4 * t * ctx)), 6) AS DECIMAL(18,6)) AS term
        FROM bg
        JOIN cab USING (a, b)
        JOIN ctx USING (a)
        JOIN n1a USING (a)
        JOIN n1b USING (b)
        CROSS JOIN tt
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST((CASE WHEN SUM(term) < 0 THEN -1 ELSE 1 END)
                * ((2 * ABS(CAST(SUM(term) * 1000000 AS BIGINT)) + COUNT(*))
                   // (2 * COUNT(*))) AS DOUBLE) / 1e6 AS avg_logprob_kn
    FROM terms GROUP BY doc_id
    """,
)
def tx_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score per document — the
    canonical n-gram smoothing, with the dyadic discount D=3/4 folding
    every probability into ONE exact int64 ratio (see
    operators/text.kneser_ney_scores). Distinguishes from the add-k LM
    (tx_bigram_lm_score) on continuation probability: words that follow
    MANY contexts get high unseen-context mass, words glued to one
    collocation do not — the distinction that makes KN the default in
    every n-gram toolkit."""
    return X.kneser_ney_scores(load_table(spark, sf_dir, "documents"))


@query(
    "tx_ccnet_lang_buckets",
    oracle="WITH " + _LM_CTE + """
    SELECT lm.doc_id, d.lang, lm.avg_logprob,
           CASE NTILE(3) OVER (PARTITION BY d.lang
                               ORDER BY lm.avg_logprob DESC, lm.doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM lm JOIN documents d ON d.doc_id = lm.doc_id
    """,
)
def tx_ccnet_lang_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet terciles AS PUBLISHED — computed PER LANGUAGE (Wenzek et
    al. bucket each language's perplexity distribution separately, since
    LM scores are not comparable across languages): NTILE(3) partitioned
    by lang over (score DESC, doc_id). Scale shape: the partitioned
    window is a lang-keyed shuffle + per-language sort (not the global
    sort of tx_ccnet_buckets); skewed language sizes are the classic
    window-skew case — the production cutover is per-language two-pass
    percentile cutoffs, same as the global variant."""
    docs = load_table(spark, sf_dir, "documents")
    lm = X.bigram_lm_scores(docs)
    lm = lm.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_logprob"), F.asc("doc_id")
    )
    return _lm_terciles(lm, w, "doc_id", "lang")


@query(
    "mm_audio_clipping",
    oracle="WITH "
    + _audio_pcm_cte()
    + """,
    pk AS (
        SELECT doc_id, COUNT(*) AS n_int16, MAX(ABS(v)) AS peak
        FROM v GROUP BY doc_id
    )
    SELECT x.doc_id, CAST(MAX(p.n_int16) AS BIGINT) AS n_int16,
           CAST(MAX(p.peak) AS INTEGER) AS peak,
           CAST(SUM(CASE WHEN ABS(x.v) = p.peak THEN 1 ELSE 0 END)
                AS BIGINT) AS n_at_peak,
           CASE WHEN SUM(CASE WHEN ABS(x.v) = p.peak THEN 1 ELSE 0 END) >= 2
                THEN 1 ELSE 0 END AS flat_top
    FROM v x JOIN pk p ON p.doc_id = x.doc_id
    GROUP BY x.doc_id
    """,
)
def mm_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipping / flat-top detection over REAL decoded PCM: how many
    samples sit exactly AT the payload's peak amplitude (a healthy
    recording touches its maximum once; a clipped or limiter-squashed
    one parks there — the audio-QA gate run before any transcription
    spend). Exact integers from the same sample-level decode as
    mm_audio_rms (the kernel now also folds the at-peak count); the
    oracle rebuilds every sample byte-by-byte, so the count is
    hash-certified. Zero-shuffle: one Arrow decode pass, no exchange."""
    return _wav_samples(spark, sf_dir).select(
        "doc_id",
        "n_int16",
        "peak",
        "n_at_peak",
        (F.col("n_at_peak") >= 2).cast("int").alias("flat_top"),
    )


@query(
    "mm_image_entropy",
    oracle="WITH "
    + _bmp_pixels_cte()
    + """,
    hist AS (
        SELECT doc_id, b AS val, CAST(COUNT(*) AS BIGINT) AS c
        FROM px GROUP BY doc_id, b
    ),
    tot AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total
        FROM hist GROUP BY doc_id
    ),
    terms AS (
        SELECT h.doc_id, t.total,
               h.c * CAST(ROUND(LN(h.c / t.total), 6) AS DECIMAL(18,6))
                   AS term
        FROM hist h JOIN tot t ON t.doc_id = h.doc_id
    )
    SELECT doc_id, CAST(MAX(total) AS BIGINT) AS n_bytes,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(-CAST(SUM(term) AS DOUBLE) / MAX(total), 6) AS entropy
    FROM terms GROUP BY doc_id
    """,
)
def mm_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the decoded pixel-byte distribution per image
    — the uniformity signal image-curation uses to drop blank/synthetic
    frames (entropy ~0) and keep natural content (~5+ bits): computed
    from a TRUE pixel-array decode (header walk, stride strip) via a new
    per-image byte histogram kernel, with the usual exact contract —
    integer counts, one ln per distinct byte value rounded then
    decimal-summed, one final division. The oracle rebuilds every pixel
    byte in SQL, so the histogram itself is hash-certified. Scale shape:
    decode rides the scan; the histogram is <= 256 rows per image into a
    doc-keyed groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    hist = M.decode_bmp_byte_histogram(M.encode_bmp(docs))
    tot = hist.groupBy("doc_id").agg(F.sum("c").alias("total"))
    j = hist.join(tot, "doc_id")
    term = F.col("c") * F.round(
        F.log(F.col("c") / F.col("total")), 6
    ).cast("decimal(18,6)")
    return j.groupBy("doc_id").agg(
        F.max("total").alias("n_bytes"),
        F.count("*").alias("n_distinct"),
        F.round(
            (-F.sum(term).cast("double")) / F.max("total"), 6
        ).alias("entropy"),
    )


# shared oracle CTEs: multinomial naive Bayes language scores, trained on
# the even doc_ids and evaluated on the odd ones
_NB_SCORES_CTE = f"""
    train AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    ev AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    tt AS (
        SELECT lang AS label, u AS w
        FROM (SELECT lang, {words_sql("text")} AS ws
              FROM train), UNNEST(ws) AS t(u)
    ),
    cwl AS (SELECT label, w, COUNT(*) AS c FROM tt GROUP BY label, w),
    nl AS (SELECT label, COUNT(*) AS n FROM tt GROUP BY label),
    v AS (SELECT COUNT(DISTINCT w) AS v FROM tt),
    pri AS (SELECT lang AS label, COUNT(*) AS dl FROM train GROUP BY lang),
    tot AS (SELECT COUNT(*) AS td FROM train),
    te AS (
        SELECT doc_id, u AS w
        FROM (SELECT doc_id, {words_sql("text")} AS ws
              FROM ev), UNNEST(ws) AS t(u)
    ),
    sc AS (
        SELECT te.doc_id, nl.label,
               SUM(CAST(ROUND(LN((COALESCE(cwl.c, 0) + 1)
                                 / (nl.n + (SELECT v FROM v))), 6)
                        AS DECIMAL(18,6))) AS s
        FROM te CROSS JOIN nl
        LEFT JOIN cwl ON cwl.label = nl.label AND cwl.w = te.w
        GROUP BY te.doc_id, nl.label
    ),
    fl AS (
        SELECT sc.doc_id, sc.label,
               sc.s + CAST(ROUND(LN(pri.dl * 1.0 / (SELECT td FROM tot)), 6)
                           AS DECIMAL(18,6)) AS score
        FROM sc JOIN pri ON pri.label = sc.label
    )"""


@query(
    "tx_naive_bayes",
    oracle="WITH "
    + _NB_SCORES_CTE
    + """,
    pred AS (
        SELECT doc_id, label, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, label) AS rn
        FROM fl
    )
    SELECT p.doc_id, d.lang, p.label AS pred_lang,
           CAST(p.score AS DOUBLE) AS score,
           CASE WHEN p.label = d.lang THEN 1 ELSE 0 END AS correct
    FROM pred p JOIN ev d ON d.doc_id = p.doc_id
    WHERE p.rn = 1
    """,
)
def tx_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained on even
    doc_ids and evaluated on odd ones INSIDE one declarative plan — the
    cheap supervised gate a curation pipeline uses to audit noisy
    metadata labels (here: re-derive `lang` from the text and flag
    disagreements). Training is literally two groupBys (class-word
    counts + class token totals); inference is a broadcast join per
    token — see operators/text.naive_bayes_lang for the determinism
    contract and 100 TB shape. Reference has no classifier ops; this is
    training-pipeline extension surface."""
    return X.naive_bayes_lang(load_table(spark, sf_dir, "documents"))


@query(
    "tx_source_overlap",
    oracle=f"""
    WITH w AS (
        SELECT source, {words_sql("text")} AS ws
        FROM documents
    ),
    g AS (
        SELECT DISTINCT source,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
        WHERE len(ws) >= 3
    ),
    keep AS (
        SELECT g FROM (SELECT g, COUNT(*) AS n_src FROM g GROUP BY g)
        WHERE n_src <= 10
    ),
    g2 AS (SELECT source, g.g FROM g JOIN keep USING (g)),
    per AS (SELECT source, COUNT(*) AS n FROM g2 GROUP BY source),
    sh AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared
        FROM g2 a JOIN g2 b ON a.g = b.g AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT sh.source_a, sh.source_b,
           pa.n AS n_grams_a, pb.n AS n_grams_b,
           sh.n_shared,
           ROUND(CAST(sh.n_shared AS DOUBLE)
                 / (pa.n + pb.n - sh.n_shared), 6) AS jaccard
    FROM sh
    JOIN per pa ON pa.source = sh.source_a
    JOIN per pb ON pb.source = sh.source_b
    """,
)
def tx_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: distinct-trigram Jaccard between
    every source pair — the leakage audit run before declaring two
    corpus slices independent (train/eval splits by source, dedup
    boundaries, licensing provenance). Grams shared by MORE than half
    the sources are excluded first: those are global boilerplate (the
    tx_boilerplate_ngrams signal), not pairwise leakage — and the cap
    also bounds the gram->pair expansion (a gram in df sources yields
    C(df,2) pairs, so df <= 10 pins the worst case), which is what keeps
    this join linear-ish at 100 TB where one viral sentence would
    otherwise cross-product. All counts exact; one division per pair."""
    # spread_scan: the trigram explode feeding the persisted distinct set
    # is scan-task-pinned; round-12 interleaved A/B (sf0.1):
    # 2.27 -> 1.78s median (1.27x), min 2.15 -> 1.68. No-op on any
    # multi-split corpus.
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    ws = X.words(F.col("text"))
    gram_expr = (
        "CASE WHEN size(ws) < 3 THEN array() ELSE "
        "transform(sequence(0, size(ws) - 3), "
        "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) END"
    )
    # the distinct (source, gram) set feeds THREE consumers (the df cap,
    # the per-source totals, the pair expansion) — persist it or the
    # explode+distinct subtree re-evaluates per consumer (measured 19x
    # at the second decade before the persist; ContextCleaner reclaims
    # the narrow cached rows once the plan is unreferenced)
    g = cachereg.track(
        docs.select("source", ws.alias("ws"))
        .select("source", F.explode(F.expr(gram_expr)).alias("g"))
        .distinct()
        .persist()
    )
    keep = g.groupBy("g").agg(F.count("*").alias("n_src")).filter(
        F.col("n_src") <= 10
    )
    g2 = cachereg.track(g.join(keep.select("g"), "g", "left_semi").persist())
    per = g2.groupBy("source").agg(F.count("*").alias("n"))
    # pair expansion WITHOUT a gram self-join: the df cap guarantees at
    # most 10 sources per gram, so collect the (sorted) source list per
    # gram and explode its upper triangle — bounded C(10,2) rows per
    # gram, no join-side skew possible
    gl = (
        g2.groupBy("g")
        .agg(F.sort_array(F.collect_list("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pair_expr = (
        "flatten(transform(ss, (x, i) -> "
        "transform(slice(ss, i + 2, size(ss)), "
        "y -> struct(x AS source_a, y AS source_b))))"
    )
    sh = (
        gl.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("n").alias("n_grams_a"))
    pb = per.select(F.col("source").alias("source_b"), F.col("n").alias("n_grams_b"))
    # per-source totals are |sources|-bounded but sources can be a
    # million domains at 100 TB — let AQE pick the join strategy
    return (
        sh.join(pa, "source_a")
        .join(pb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_grams_a",
            "n_grams_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "mm_blur_score",
    oracle="WITH "
    + _GEO_CTE
    + """,
    gray AS (
        SELECT doc_id, w, h, t.pi // w AS r, t.pi % w AS c,
               ascii(substring(text,
                   (((t.pi // w) * stride + (t.pi % w) * 3) % n) + 1, 1))
             + ascii(substring(text,
                   (((t.pi // w) * stride + (t.pi % w) * 3 + 1) % n) + 1, 1))
             + ascii(substring(text,
                   (((t.pi // w) * stride + (t.pi % w) * 3 + 2) % n) + 1, 1))
                 AS g
        FROM geo, UNNEST(generate_series(0, w * h - 1)) AS t(pi)
    ),
    lap AS (
        SELECT doc_id, w, h, r, c,
               4 * g - LAG(g) OVER win_r - LEAD(g) OVER win_r
                     - LAG(g) OVER win_c - LEAD(g) OVER win_c AS l
        FROM gray
        WINDOW win_r AS (PARTITION BY doc_id, r ORDER BY c),
               win_c AS (PARTITION BY doc_id, c ORDER BY r)
    ),
    ag AS (
        SELECT doc_id, COUNT(*) AS n_i,
               CAST(SUM(l) AS BIGINT) AS sl,
               CAST(SUM(l * l) AS BIGINT) AS sl2
        FROM lap
        WHERE r >= 1 AND r <= h - 2 AND c >= 1 AND c <= w - 2
        GROUP BY doc_id
    )
    SELECT geo.doc_id, CAST(geo.w AS INTEGER) AS width,
           CAST(geo.h AS INTEGER) AS height,
           CAST(COALESCE(ag.n_i, 0) AS BIGINT) AS n_interior,
           CASE WHEN COALESCE(ag.n_i, 0) = 0 THEN NULL
                ELSE ROUND(CAST(ag.n_i * ag.sl2 - ag.sl * ag.sl AS DOUBLE)
                           / (ag.n_i * ag.n_i), 6) END AS blur_var
    FROM geo LEFT JOIN ag ON ag.doc_id = geo.doc_id
    """,
)
def mm_blur_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-of-Laplacian blur/flatness score over the TRUE decoded
    pixel array — the focus-quality gate image curation runs to drop
    blurred or synthetically flat frames before any embedding spend.
    Exact integer Laplacian moments from a new Arrow-batched kernel
    (operators/multimodal.bmp_laplacian_stats); variance is ONE division
    of int64 moments, so the oracle — which rebuilds every gray pixel
    byte-by-byte and differentiates via four windowed shifts — certifies
    the kernel's second-derivative arithmetic bit-for-bit. Zero-shuffle:
    decode rides the scan, one row out per image."""
    docs = load_table(spark, sf_dir, "documents")
    raw = M.bmp_laplacian_stats(M.encode_bmp(docs))
    n = F.col("n_interior")
    return raw.select(
        "doc_id",
        "width",
        "height",
        "n_interior",
        F.when(
            n > 0,
            F.round(
                (n * F.col("sum_lap2") - F.col("sum_lap") * F.col("sum_lap"))
                .cast("double") / (n * n),
                6,
            ),
        ).alias("blur_var"),
    )


_TONE_VALUES = ",\n               ".join(
    f"({k}, {n}, {c}, {s})" for (k, n, c, s) in M._tone_table()
)

# shared oracle CTEs: p, the DFT twiddle table and the signed samples
_TONE_PCM_CTE = (
    _AUDIO_P_CTE
    + f""",
    tw(k, wn, c, sn) AS (
        VALUES {_TONE_VALUES}
    ),
    v AS (
        SELECT doc_id, t.j AS j,
               CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v,
               (frames * channels) // 64 AS nf
        FROM (
            SELECT doc_id, frames, channels, t.j,
                   ascii(substring(text, ((2 * t.j) % n) + 1, 1))
                   + 256 * ascii(substring(text, ((2 * t.j + 1) % n) + 1, 1))
                       AS u
            FROM p, UNNEST(generate_series(0, frames * channels - 1)) AS t(j)
        ) t
    )"""
)


@query(
    "mm_audio_tone",
    oracle="WITH "
    + _TONE_PCM_CTE
    + """,
    pre AS (
        SELECT x.doc_id, tw.k, x.nf, x.j // 64 AS fi,
               SUM(x.v * tw.c) AS re, SUM(x.v * tw.sn) AS im
        FROM v x JOIN tw ON tw.wn = x.j % 64
        WHERE x.j < 64 * x.nf
        GROUP BY x.doc_id, tw.k, x.nf, x.j // 64
    ),
    pw AS (
        SELECT doc_id, k, nf,
               SUM(CAST(FLOOR(CAST(re AS DOUBLE) / 32768.0) AS BIGINT)
                   * CAST(FLOOR(CAST(re AS DOUBLE) / 32768.0) AS BIGINT)
                   + CAST(FLOOR(CAST(im AS DOUBLE) / 32768.0) AS BIGINT)
                   * CAST(FLOOR(CAST(im AS DOUBLE) / 32768.0) AS BIGINT))
                   AS power
        FROM pre GROUP BY doc_id, k, nf
    )
    SELECT doc_id, CAST(MAX(nf) AS BIGINT) AS n_frames,
           CAST(7 - MAX(power * 8 + (7 - k)) % 8 AS INTEGER) AS dominant_bin,
           CAST(MAX(power * 8 + (7 - k)) // 8 AS BIGINT) AS dom_power,
           CAST(SUM(power) AS BIGINT) AS total_power
    FROM pw GROUP BY doc_id
    """,
)
def mm_audio_tone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-frequency tone detection over REAL decoded PCM — the
    hum/test-signal gate (mains hum, dial tones, synthetic sweeps) run
    before transcription spend. DFT power at 4 probe bins per 64-sample
    frame in Q15 FIXED POINT: the twiddle factors are integer literals
    shared verbatim between the Spark kernel and the SQL oracle, so no
    trig function ever crosses an engine boundary — the whole spectral
    measurement is exact int64 (the fixed-point DSP practice, repurposed
    for cross-engine bit-exactness). Dominant bin via the packed-long
    argmax convention. Zero-shuffle decode + one doc-keyed groupBy;
    payloads without one complete frame emit nothing, matching the
    oracle's frame bound."""
    docs = load_table(spark, sf_dir, "documents")
    raw = M.audio_tone_power_q15(M.encode_wav(docs))
    enc = F.max(F.col("power") * 8 + (7 - F.col("bin"))).alias("enc")
    g = raw.groupBy("doc_id").agg(
        F.max("n_frames").alias("n_frames"),
        enc,
        F.sum("power").alias("total_power"),
    )
    return g.select(
        "doc_id",
        "n_frames",
        (7 - F.col("enc") % 8).cast("int").alias("dominant_bin"),
        F.expr("enc div 8").alias("dom_power"),
        "total_power",
    )


@query(
    "tx_stupid_backoff",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {words_sql("text")} AS ws
        FROM documents
    ),
    tr AS (SELECT ws FROM w WHERE doc_id % 2 = 0),
    c1 AS (SELECT u AS g, COUNT(*) AS c FROM tr, UNNEST(ws) AS t(u) GROUP BY u),
    c2 AS (
        SELECT ws[i] || ' ' || ws[i+1] AS g, COUNT(*) AS c
        FROM tr, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2 GROUP BY 1
    ),
    c3 AS (
        SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g, COUNT(*) AS c
        FROM tr, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
        WHERE len(ws) >= 3 GROUP BY 1
    ),
    c4 AS (
        SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                   AS g, COUNT(*) AS c
        FROM tr, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)
        WHERE len(ws) >= 4 GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(len(ws)) AS BIGINT) AS n_train FROM tr),
    te AS (
        SELECT doc_id,
               ws[i-3] || ' ' || ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i] AS g4,
               ws[i-3] || ' ' || ws[i-2] || ' ' || ws[i-1] AS p3,
               ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i] AS g3,
               ws[i-2] || ' ' || ws[i-1] AS p2,
               ws[i-1] || ' ' || ws[i] AS g2,
               ws[i-1] AS p1,
               ws[i] AS g1
        FROM w, UNNEST(generate_series(4, len(ws))) AS t(i)
        WHERE doc_id % 2 = 1 AND len(ws) >= 4
    ),
    mid AS (
        SELECT te.doc_id,
               CASE WHEN x4.c IS NOT NULL THEN 4
                    WHEN x3.c IS NOT NULL THEN 3
                    WHEN x2.c IS NOT NULL THEN 2 ELSE 1 END AS o,
               CASE WHEN x4.c IS NOT NULL THEN LN(x4.c * 1.0 / q3.c)
                    WHEN x3.c IS NOT NULL THEN LN(x3.c * 1.0 / q2.c)
                    WHEN x2.c IS NOT NULL THEN LN(x2.c * 1.0 / q1.c)
                    WHEN x1.c IS NOT NULL
                        THEN LN(x1.c * 1.0 / (SELECT n_train FROM n))
                    ELSE LN(1.0 / (SELECT n_train FROM n)) END AS lr
        FROM te
        LEFT JOIN c4 x4 ON x4.g = te.g4
        LEFT JOIN c3 q3 ON q3.g = te.p3
        LEFT JOIN c3 x3 ON x3.g = te.g3
        LEFT JOIN c2 q2 ON q2.g = te.p2
        LEFT JOIN c2 x2 ON x2.g = te.g2
        LEFT JOIN c1 q1 ON q1.g = te.p1
        LEFT JOIN c1 x1 ON x1.g = te.g1
    ),
    s AS (
        SELECT doc_id, o,
               CAST(ROUND(lr, 6) AS DECIMAL(18,6))
               + CAST(4 - o AS DECIMAL(18,6))
                 * CAST('-0.916291' AS DECIMAL(18,6)) AS term
        FROM mid
    )
    SELECT doc_id, COUNT(*) AS n_scored,
           CAST(SUM(CASE WHEN o = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_order4,
           CAST(SUM(CASE WHEN o = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_order3,
           CAST(SUM(CASE WHEN o = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_order2,
           CAST(SUM(CASE WHEN o = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_order1,
           CAST((CASE WHEN SUM(term) < 0 THEN -1 ELSE 1 END)
                * ((2 * ABS(CAST(SUM(term) * 1000000 AS BIGINT)) + COUNT(*))
                   // (2 * COUNT(*))) AS DOUBLE) / 1e6 AS avg_logscore
    FROM s GROUP BY doc_id
    """,
)
def tx_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff 4-gram LM scoring with longest-suffix match
    (Brants et al. 2007) — the web-scale smoothing that needs NO
    normalization pass, and the scoring rule behind infini-gram-style
    longest-match indexes. Even doc_ids build the 1..4-gram tables, odd
    doc_ids are scored; per-token backoff-order usage counts come back
    alongside the score, so the query doubles as a coverage report of
    the n-gram index. See operators/text.stupid_backoff_scores for the
    determinism contract and 100 TB shape."""
    return X.stupid_backoff_scores(load_table(spark, sf_dir, "documents"))


@query(
    "tx_neg_sample_table",
    oracle=f"""
    WITH cnt AS (
        SELECT u AS w, COUNT(*) AS c
        FROM (SELECT {words_sql("text")} AS ws
              FROM documents), UNNEST(ws) AS t(u)
        GROUP BY u
    ),
    wm AS (
        SELECT w, c,
               CAST(ROUND(SQRT(c) * SQRT(SQRT(c)) * 1e6, 0) AS BIGINT)
                   AS w_micro
        FROM cnt
    ),
    tot AS (SELECT SUM(w_micro) AS tot FROM wm),
    based AS (
        SELECT w, c, w_micro,
               (1000 * w_micro) // (SELECT tot FROM tot) AS base,
               (1000 * w_micro) % (SELECT tot FROM tot) AS rem
        FROM wm
    ),
    d AS (SELECT 1000 - SUM(base) AS deficit FROM based),
    ranked AS (
        SELECT w, c, w_micro, base,
               ROW_NUMBER() OVER (ORDER BY rem DESC, w) AS rk
        FROM based
    )
    SELECT w, c, w_micro,
           CAST(base + CASE WHEN rk <= (SELECT deficit FROM d)
                            THEN 1 ELSE 0 END AS BIGINT) AS n_draws
    FROM ranked
    WHERE base + CASE WHEN rk <= (SELECT deficit FROM d)
                      THEN 1 ELSE 0 END > 0
    """,
)
def tx_neg_sample_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table: draws per word proportional to
    count^(3/4), apportioned EXACTLY over 1000 slots by the largest-
    remainder method — sum(n_draws) == 1000 by construction on any
    engine (c^(3/4) via the sqrt-only rule, then pure integer
    apportionment). The contrastive-training companion to
    sim_negative_samples' uniform draws. See operators/text.
    neg_sample_table for the 100 TB shape."""
    return X.neg_sample_table(load_table(spark, sf_dir, "documents"))


@query(
    "mm_keyframes",
    oracle="WITH "
    + _FRAME_SIG_CTES
    + """,
    j AS (
        SELECT doc_id, i,
               CASE WHEN LAG(sig) OVER w IS NULL THEN NULL
                    ELSE bit_count(xor(sig, LAG(sig) OVER w)) END AS dist
        FROM d
        WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    sc1 AS (
        SELECT doc_id, i, dist,
               SUM(CASE WHEN dist >= 32 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i
                         ROWS UNBOUNDED PRECEDING) AS scene_id
        FROM j
    ),
    sc AS (
        SELECT doc_id, i, dist, scene_id,
               ROW_NUMBER() OVER (PARTITION BY doc_id, scene_id
                                  ORDER BY i) AS rn_in_scene
        FROM sc1
    )
    SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
           CAST(MIN(i) AS BIGINT) AS start_idx,
           COUNT(*) AS n_samples,
           CAST(COALESCE(MAX(CASE WHEN rn_in_scene = 1
                                  THEN COALESCE(dist, 0) END), 0)
                AS INTEGER) AS entry_jump
    FROM sc GROUP BY doc_id, scene_id
    """,
)
def mm_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene segmentation + keyframe selection on REAL MP4 sample
    tables: samples partition into scenes at every >= 32-bit digest
    jump (mm_scene_cut's boundary rule) and each scene's first sample
    is the representative keyframe — content-boundary frame sampling,
    the pick a video pipeline embeds per shot instead of a fixed
    stride. The oracle rebuilds every sample byte from the stsz/stco
    closed form and replays the lag/XOR/popcount/cumulative-cut chain,
    so scene membership itself is hash-certified. One keyed window per
    document; see operators/multimodal.video_keyframes."""
    docs = load_table(spark, sf_dir, "documents")
    return M.video_keyframes(M.encode_mp4_samples(docs))


@query(
    "tx_hash_collisions",
    oracle=f"""
    WITH w AS (
        SELECT DISTINCT u AS w
        FROM (SELECT {words_sql("text")} AS ws
              FROM documents), UNNEST(ws) AS t(u)
    ),
    h AS (
        SELECT w, {md5_long_sql("w")} AS h1
        FROM w
    ),
    dims AS (SELECT UNNEST([64, 256, 1024]) AS dim),
    bucketed AS (
        SELECT d.dim, h.h1 % d.dim AS b
        FROM h CROSS JOIN dims d
    ),
    loads AS (
        SELECT dim, b, COUNT(*) AS load FROM bucketed GROUP BY dim, b
    )
    SELECT dim,
           CAST((SELECT COUNT(*) FROM w) AS BIGINT) AS n_words,
           COUNT(*) AS n_used,
           CAST(SUM(CASE WHEN load >= 2 THEN load ELSE 0 END) AS BIGINT)
               AS n_collided_words,
           CAST(MAX(load) AS BIGINT) AS max_bucket_load,
           ROUND(CAST(SUM(CASE WHEN load >= 2 THEN load ELSE 0 END)
                      AS DOUBLE) / (SELECT COUNT(*) FROM w), 6)
               AS collided_frac
    FROM loads GROUP BY dim
    """,
)
def tx_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing collision audit at three candidate dimensions
    (64/256/1024): for each dim, how many vocabulary words share a
    bucket with another word, the worst bucket load, and the collided
    fraction — the measurement that sizes tx_hash_embed's dimension
    BEFORE any training spend (the hashing-trick variance penalty is
    driven exactly by this fraction). Same md5 hash as the embedding
    itself, so the audit measures the real collisions, not a proxy.
    Exact integers + one ratio; the vocab-bounded cross with the 3-row
    dim list is the only fan-out."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(X.words(F.col("text"))).alias("w"))
        .distinct()
    )
    h = w.select("w", md5_long("w").alias("h1"))
    dims = spark.createDataFrame([(64,), (256,), (1024,)], ["dim"])
    bucketed = h.crossJoin(F.broadcast(dims)).select(
        "dim", (F.col("h1") % F.col("dim")).alias("b")
    )
    loads = bucketed.groupBy("dim", "b").agg(F.count("*").alias("load"))
    n_words = w.agg(F.count("*").alias("n_words"))
    return (
        loads.groupBy("dim")
        .agg(
            F.count("*").alias("n_used"),
            F.sum(
                F.when(F.col("load") >= 2, F.col("load")).otherwise(0)
            ).alias("n_collided_words"),
            F.max("load").alias("max_bucket_load"),
        )
        .crossJoin(F.broadcast(n_words))
        .select(
            "dim",
            "n_words",
            "n_used",
            "n_collided_words",
            "max_bucket_load",
            F.round(
                F.col("n_collided_words").cast("double") / F.col("n_words"), 6
            ).alias("collided_frac"),
        )
    )


@query(
    "tx_conformal_interval",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               len({words_sql("text")})
                   AS x,
               length(text) AS y
        FROM documents
    ),
    tr AS (SELECT * FROM f WHERE doc_id % 2 = 0),
    s AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM tr
    ),
    ab AS (
        SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
               n, sx, sy
        FROM s
    ),
    ab2 AS (SELECT b, (sy - b * sx) / n AS a FROM ab),
    cal AS (
        SELECT f.doc_id,
               ROUND(ABS(f.y - ((SELECT a FROM ab2)
                                + (SELECT b FROM ab2) * f.x)), 6) AS r
        FROM f WHERE doc_id % 4 = 1
    ),
    q AS (
        SELECT r AS qhat, m FROM (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r, doc_id) AS rn,
                   COUNT(*) OVER () AS m
            FROM cal
        ) WHERE rn = CAST(CEIL((m + 1) * 0.9) AS BIGINT)
    ),
    ev AS (
        SELECT COUNT(*) AS n_eval,
               SUM(CASE WHEN ROUND(ABS(y - ((SELECT a FROM ab2)
                                            + (SELECT b FROM ab2) * x)), 6)
                             <= (SELECT qhat FROM q)
                        THEN 1 ELSE 0 END) AS n_covered
        FROM f WHERE doc_id % 4 = 3
    )
    SELECT (SELECT n FROM s) AS n_train,
           (SELECT m FROM q LIMIT 1) AS n_cal,
           ev.n_eval,
           ROUND((SELECT b FROM ab2), 6) AS slope,
           ROUND((SELECT a FROM ab2), 6) AS intercept,
           (SELECT qhat FROM q) AS qhat,
           ROUND(ev.n_covered * 1.0 / ev.n_eval, 6) AS coverage
    FROM ev
    """,
)
def tx_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval with MEASURED coverage — the
    distribution-free uncertainty wrapper modern eval pipelines put
    around any point model: fit a closed-form OLS line (chars ~ words)
    on even doc_ids, take the ceil((m+1)*0.9)-th smallest absolute
    residual on a held-out calibration quarter as the interval
    half-width (the finite-sample 90% guarantee needs NOTHING about the
    error distribution), then report realized coverage on the
    disjoint eval quarter. Deterministic end-to-end: OLS moments are
    exact integer sums with ONE division each, the conformal quantile
    is an ELEMENT pick under a total order (residual rounded to 6,
    doc_id tiebreak), and coverage compares the same rounded residuals.
    Scale shape: two scan aggregations + one rank pick over the
    calibration split — at 100 TB the calibration set is hash-sampled
    to a bounded size first (conformal guarantees need only thousands
    of points; tx_stratified_sample is the sampler), so the quantile
    sort never sees the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        F.size(X.words(F.col("text"))).cast("long").alias("x"),
        F.length("text").cast("long").alias("y"),
    )
    s = f.filter(F.col("doc_id") % 2 == 0).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    ab = s.select(
        "n",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("b"),
        "sx",
        "sy",
    ).select(
        "n", "b", ((F.col("sy") - F.col("b") * F.col("sx")) / F.col("n")).alias("a")
    )
    withr = f.crossJoin(F.broadcast(ab)).withColumn(
        "r", F.round(F.abs(F.col("y") - (F.col("a") + F.col("b") * F.col("x"))), 6)
    )
    cal = withr.filter(F.col("doc_id") % 4 == 1)
    ranked = cal.withColumn(
        "rn", F.row_number().over(Window.orderBy("r", "doc_id"))
    ).withColumn("m", F.count("*").over(Window.partitionBy()))
    q = ranked.filter(
        F.col("rn") == F.ceil((F.col("m") + 1) * 0.9).cast("long")
    ).select(F.col("r").alias("qhat"), "m")
    ev = (
        withr.filter(F.col("doc_id") % 4 == 3)
        .crossJoin(F.broadcast(q))
        .agg(
            F.count("*").alias("n_eval"),
            F.sum((F.col("r") <= F.col("qhat")).cast("long")).alias("n_covered"),
            F.max("qhat").alias("qhat"),
            F.max("m").alias("n_cal"),
        )
    )
    return (
        ev.crossJoin(F.broadcast(ab))
        .select(
            F.col("n").alias("n_train"),
            F.col("n_cal").cast("long").alias("n_cal"),
            "n_eval",
            F.round("b", 6).alias("slope"),
            F.round("a", 6).alias("intercept"),
            "qhat",
            F.round(F.col("n_covered") * 1.0 / F.col("n_eval"), 6).alias(
                "coverage"
            ),
        )
    )


@query(
    "tx_nb_confusion",
    oracle="WITH "
    + _NB_SCORES_CTE
    + """,
    pred AS (
        SELECT doc_id, label AS pred_lang FROM (
            SELECT doc_id, label,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, label) AS rn
            FROM fl
        ) WHERE rn = 1
    ),
    cm AS (
        SELECT d.lang, p.pred_lang, COUNT(*) AS n
        FROM pred p JOIN ev d ON d.doc_id = p.doc_id
        GROUP BY d.lang, p.pred_lang
    )
    SELECT cm.lang, cm.pred_lang, cm.n,
           ROUND(cm.n * 1.0 / SUM(cm.n) OVER (PARTITION BY cm.lang), 6)
               AS row_frac
    FROM cm
    """,
)
def tx_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the Naive Bayes label audit (tx_naive_bayes):
    (true lang, predicted lang, count, per-true-class fraction) — the
    standard classifier-quality readout, showing exactly WHICH metadata
    labels the text model disagrees with, not just how often. Aggregates
    the per-doc predictions to |classes|^2 rows; at 100 TB the matrix
    stays class-bounded while the prediction pass rides
    naive_bayes_lang's shape."""
    preds = X.naive_bayes_lang(load_table(spark, sf_dir, "documents"))
    cm = preds.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    return cm.select(
        "lang",
        "pred_lang",
        "n",
        F.round(
            F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("lang")), 6
        ).alias("row_frac"),
    )


_FP_LM_CTE = (
    _TONE_PCM_CTE
    + """,
    pre AS (
        SELECT x.doc_id, tw.k, x.j // 64 AS fi,
               SUM(x.v * tw.c) AS re, SUM(x.v * tw.sn) AS im
        FROM v x JOIN tw ON tw.wn = x.j % 64
        WHERE x.j < 64 * x.nf
        GROUP BY x.doc_id, tw.k, x.j // 64
    ),
    pw AS (
        SELECT doc_id, fi, k,
               CAST(FLOOR(CAST(re AS DOUBLE) / 32768.0) AS BIGINT)
               * CAST(FLOOR(CAST(re AS DOUBLE) / 32768.0) AS BIGINT)
               + CAST(FLOOR(CAST(im AS DOUBLE) / 32768.0) AS BIGINT)
               * CAST(FLOOR(CAST(im AS DOUBLE) / 32768.0) AS BIGINT) AS power
        FROM pre
    ),
    peaks AS (
        SELECT doc_id, fi,
               CAST(7 - MAX(power * 8 + (7 - k)) % 8 AS BIGINT) AS pk,
               MAX(power * 8 + (7 - k)) // 8 AS ppow
        FROM pw GROUP BY doc_id, fi
    ),
    lm0 AS (
        SELECT doc_id, fi, pk,
               LEAD(pk, 1) OVER (PARTITION BY doc_id ORDER BY fi) AS p1,
               LEAD(pk, 2) OVER (PARTITION BY doc_id ORDER BY fi) AS p2,
               LEAST(LENGTH(bin(ppow)), 63) AS oct
        FROM peaks
    ),
    lm AS (
        SELECT doc_id, fi,
               CAST(((pk * 8 + p1) * 8 + p2) * 64 + oct AS BIGINT) AS l
        FROM lm0 WHERE p2 IS NOT NULL
    )"""
)


def _landmark_votes_sql(probe_mod: int) -> str:
    """Landmark matching over ``lm`` (doc_id, fi, l): index the landmarks
    held by at most 64 documents, probe with the documents whose id is
    ``probe_mod`` mod 10 (one frame late), and keep each probe's top 3
    (document, offset) vote counts."""
    return f"""
    freq AS (
        SELECT l FROM (
            SELECT l, COUNT(DISTINCT doc_id) AS nd FROM lm GROUP BY l
        ) WHERE nd <= 64
    ),
    idx AS (SELECT lm.doc_id, lm.fi, lm.l FROM lm JOIN freq USING (l)),
    probe AS (
        SELECT doc_id AS probe_doc, fi - 1 AS pfi, l
        FROM lm WHERE doc_id % 10 = {probe_mod} AND fi >= 1
    ),
    votes AS (
        SELECT p.probe_doc, c.doc_id AS matched_doc,
               c.fi - p.pfi AS "offset",
               CAST(COUNT(*) AS BIGINT) AS votes
        FROM probe p JOIN idx c ON c.l = p.l
        GROUP BY 1, 2, 3
    )
    SELECT probe_doc, matched_doc, "offset", votes, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY probe_doc
                   ORDER BY votes DESC, matched_doc ASC, "offset" ASC
               ) AS BIGINT) AS rank
        FROM votes
    ) WHERE rank <= 3
    """


@query(
    "mm_audio_fingerprint",
    oracle="WITH " + _FP_LM_CTE + "," + _landmark_votes_sql(3),
)
def mm_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shazam-style constellation fingerprint matching over REAL decoded
    PCM (operators/multimodal: audio_frame_peaks_q15 -> audio_landmarks
    -> audio_fingerprint_match) — the snippet-to-catalog audio
    identification / dedup shape: per-frame dominant spectral peaks
    (the exact Q15 fixed-point DFT, shared twiddle literals) become
    triple-peak landmarks with a bit-length loudness octave; probe
    streams — each probe is a corpus clip with its FIRST FRAME CUT, the
    snippet case — join the landmark index and VOTE per (candidate, time
    offset). Every probe's top match is itself at offset exactly 1 with
    a vote spike no collision can smear, which the hash certifies
    end-to-end. Stop-landmarks (>64 docs) are dropped — the bounded-
    bucket discipline every LSH join here follows — so a degenerate
    common landmark cannot explode the candidate join at corpus scale.
    All arithmetic is exact int64 on both engines: DFT, packed argmax,
    landmark hash, votes."""
    docs = load_table(spark, sf_dir, "documents")
    peaks = M.audio_frame_peaks_q15(M.encode_wav(docs))
    lms = M.audio_landmarks(peaks)
    probe = lms.filter(
        (F.col("doc_id") % 10 == 3) & (F.col("fi") >= 1)
    ).select("doc_id", (F.col("fi") - 1).alias("fi"), "l")
    return M.audio_fingerprint_match(lms, probe)


@query(
    "mm_video_align",
    oracle="WITH "
    + _FRAME_DIGEST_CTES
    + f""",
    lm AS (
        SELECT doc_id, CAST(i AS BIGINT) AS fi,
               {md5_long_sql("g")} AS l
        FROM d
    ),"""
    + _landmark_votes_sql(7),
)
def mm_video_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal ALIGNMENT of video pairs by frame-digest offset voting —
    the video twin of mm_audio_fingerprint, over the real ISO-BMFF
    demux: every sample's digest (operators/multimodal.video_frame_index,
    stsz/stco-located bytes) becomes a position-stamped landmark, probe
    clips (each a corpus video with its FIRST SAMPLE CUT — the re-edited
    /trimmed-upload case) join the landmark index and vote per
    (candidate, sample offset). A real match is a vote SPIKE at one
    offset (the probes recover offset exactly 1); random digest
    collisions cannot concentrate. Reuses the generic constellation
    matcher (audio_fingerprint_match — the landmark stream is the
    interface, the modality is not), including the >64-doc stop-landmark
    cap that bounds the join under degenerate shared content. Digests
    are the only thing leaving the demux pass — longs, never video
    bytes."""
    docs = load_table(spark, sf_dir, "documents")
    idx = M.video_frame_index(M.encode_mp4_samples(docs), every_k=1).filter(
        F.col("sample_idx").isNotNull()
    )
    lm = idx.select(
        "doc_id",
        F.col("sample_idx").cast("long").alias("fi"),
        md5_long(F.col("digest")).alias("l"),
    )
    probe = lm.filter(
        (F.col("doc_id") % 10 == 7) & (F.col("fi") >= 1)
    ).select("doc_id", (F.col("fi") - 1).alias("fi"), "l")
    return M.audio_fingerprint_match(lm, probe)


@query(
    "tx_ht_estimate",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
               {md5_long_sql("CAST(doc_id AS VARCHAR)")} AS h,
               CAST(len({words_sql("text")})
                    AS BIGINT) AS y
        FROM documents
    ),
    tot AS (
        SELECT CAST(SUM(w) AS BIGINT) AS tw,
               CAST(SUM(y) AS BIGINT) AS exact_words
        FROM keyed
    ),
    cums AS (
        SELECT doc_id, w, y, SUM(w) OVER (ORDER BY h, doc_id) AS cum
        FROM keyed
    ),
    hits AS (
        SELECT doc_id, w, y,
               CAST(LEAST(500, GREATEST(0, (2 * 500 * cum + tw - 1) // (2 * tw)))
                  - LEAST(500, GREATEST(0,
                        (2 * 500 * (cum - w) + tw - 1) // (2 * tw)))
                  AS BIGINT) AS n_hits,
               tw
        FROM cums CROSS JOIN tot
    ),
    est AS (
        SELECT CAST(SUM(CAST(ROUND(n_hits * y * tw / (500.0 * w), 6)
                             AS DECIMAL(24,6))) AS DOUBLE) AS ht_words
        FROM hits WHERE n_hits > 0
    )
    SELECT 500 AS k, e.ht_words, t.exact_words,
           ROUND((e.ht_words - t.exact_words) / t.exact_words, 6) AS rel_err6
    FROM est e CROSS JOIN tot t
    """,
)
def tx_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson total estimator over the certified systematic PPS
    sample (tx_pps_sample's exact-integer hit arithmetic): estimate the
    corpus TOKEN total from 500 length-weighted draws — sum over sampled
    docs of n_hits * y * W / (k * w) — with the exact total and the
    measured relative error alongside. This is the certificate that the
    sample is USABLE for downstream estimation, not just drawable: PPS
    on characters makes token totals nearly self-weighting, so the
    reported |rel_err| is small by design and the row pins it. Per-doc
    terms are single exact-double expressions rounded to 6 and summed as
    DECIMAL (order-independent); everything upstream is the pps prefix
    sum — two passes, no global funnel."""
    from odbc2parquet_spark.operators.sampling import pps_sample

    docs = load_table(spark, sf_dir, "documents")
    y = docs.select(
        "doc_id",
        F.size(words(F.col("text")))
        .cast("long")
        .alias("y"),
    )
    tot = docs.select(
        F.sum(F.col("n_chars").cast("long")).alias("tw"),
        F.lit(None).alias("_drop"),
    ).select("tw")
    exact = y.agg(F.sum("y").alias("exact_words"))
    sample = pps_sample(docs)
    est = (
        sample.join(y, "doc_id")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.col("n_hits")
                * F.col("y")
                * F.col("tw")
                / (F.lit(500.0) * F.col("weight")),
                6,
            )
            .cast("decimal(24,6)")
            .alias("term")
        )
        .agg(F.sum("term").cast("double").alias("ht_words"))
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.lit(500).alias("k"),
            "ht_words",
            "exact_words",
            F.round(
                (F.col("ht_words") - F.col("exact_words"))
                / F.col("exact_words"),
                6,
            ).alias("rel_err6"),
        )
    )


_DCT_VALUES = ",\n               ".join(
    f"({u}, {x}, {q})" for (u, x, q) in M._dct8_table()
)


_PHASH_CTE = (
    _BMP_GEO_CTE
    + f""",
    gray AS (
        SELECT doc_id, w, h, t.j // w AS y, t.j % w AS x,
               (ascii(substring(text,
                    (((h - 1 - t.j // w) * stride + (t.j % w) * 3 + 0) % n) + 1, 1))
                + ascii(substring(text,
                    (((h - 1 - t.j // w) * stride + (t.j % w) * 3 + 1) % n) + 1, 1))
                + ascii(substring(text,
                    (((h - 1 - t.j // w) * stride + (t.j % w) * 3 + 2) % n) + 1, 1))
               ) // 3 AS g
        FROM geo, UNNEST(generate_series(0, h * w - 1)) AS t(j)
    ),
    cells0 AS (
        SELECT doc_id, (y * 8) // h AS cy, (x * 8) // w AS cx,
               SUM(g) // COUNT(*) AS cell
        FROM gray GROUP BY 1, 2, 3
    ),
    grid AS (
        SELECT d.doc_id, gy.a AS cy, gx.b AS cx, COALESCE(c.cell, 0) AS cell
        FROM (SELECT DISTINCT doc_id FROM p) d
        CROSS JOIN UNNEST(generate_series(0, 7)) AS gy(a)
        CROSS JOIN UNNEST(generate_series(0, 7)) AS gx(b)
        LEFT JOIN cells0 c
            ON c.doc_id = d.doc_id AND c.cy = gy.a AND c.cx = gx.b
    ),
    tdct(u, x, q) AS (
        VALUES {_DCT_VALUES}
    ),
    m1 AS (
        SELECT g.doc_id, t.u, g.cx, SUM(t.q * g.cell) AS v
        FROM grid g JOIN tdct t ON t.x = g.cy
        GROUP BY 1, 2, 3
    ),
    coef AS MATERIALIZED (
        SELECT m.doc_id, m.u, t.u AS vv, SUM(m.v * t.q) AS c
        FROM m1 m JOIN tdct t ON t.x = m.cx
        GROUP BY 1, 2, 3
    ),
    ac AS MATERIALIZED (
        SELECT doc_id, u * 8 + vv AS idx, c FROM coef
        WHERE NOT (u = 0 AND vv = 0)
    ),
    med AS (
        SELECT doc_id, c AS med FROM (
            SELECT doc_id, c,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c ASC) AS rk
            FROM ac
        ) WHERE rk = 32
    ),
    ph AS MATERIALIZED (
        SELECT a.doc_id,
               CAST(SUM(CASE WHEN a.c > m.med
                             THEN CAST(1 AS BIGINT) << (a.idx - 1)
                             ELSE 0 END) AS BIGINT) AS phash,
               CAST(SUM(CASE WHEN a.c > m.med THEN 1 ELSE 0 END)
                    AS INTEGER) AS n_above
        FROM ac a JOIN med m ON m.doc_id = a.doc_id
        GROUP BY a.doc_id
    )"""
)


@query(
    "mm_phash_dct",
    oracle="WITH " + _PHASH_CTE + """
    SELECT doc_id, phash, n_above FROM ph
    """,
)
def mm_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hash (pHash) over REAL decoded BMP pixels
    (operators/multimodal.phash_dct_bmp) — the spectral image
    fingerprint one notch stronger than mm_dhash: block-averaged 8x8
    luma through a 2D DCT-II in Q15 FIXED POINT (the basis cosines are
    integer literals shared verbatim with the oracle — the mm_audio_tone
    twiddle convention applied to images), AC coefficients thresholded
    at their own lower median. Two exact int64 matmuls, no intermediate
    shift, no libm anywhere — the oracle replays pixel decode, block
    averaging, both matmuls, the median pick and the bit packing, and
    the hash match certifies all of it. One long per image leaves the
    Arrow pass."""
    docs = load_table(spark, sf_dir, "documents")
    return M.phash_dct_bmp(M.encode_bmp(docs))


@query(
    "mm_phash_pairs",
    oracle="WITH " + _PHASH_CTE + "," + _hash_band_pairs_sql("ph", "phash", 9, 7),
)
def mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral image near-duplicate pairs: banded pigeonhole over the
    63-bit DCT pHash (7 x 9-bit bands — any pair within Hamming 6 < 7
    bands must collide on one band), capped buckets, exact
    bit_count(xor) verify. The spectral twin of mm_dhash_pairs: pHash
    survives global brightness/gradient edits dHash's neighbor compare
    does not, so the two banded joins catch different edit families —
    the reason image dedup pipelines run both. Candidate generation is
    7 equi-join buckets, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = M.phash_dct_bmp(M.encode_bmp(docs)).withColumnRenamed(
        "phash", "dhash"
    )
    return M.dhash_near_pairs(hashes, bands=7, band_bits=9)


import re as _re

_DHASH_NS = _DHASH_CTE
for _a, _b in [
    ("geo", "dgeo2"),
    ("cellbytes", "dcb2"),
    ("gray", "dgray2"),
    ("bits", "dbits2"),
    ("dh", "dh2"),
]:
    _DHASH_NS = _re.sub(rf"\b{_a}\b", _b, _DHASH_NS)


@query(
    "mm_hash_agreement",
    oracle="WITH "
    + _PHASH_CTE
    + ","
    + _DHASH_NS
    + """,
    pbands AS (
        SELECT doc_id, phash, t.b AS band,
               (phash >> (t.b * 9)) & 511 AS key
        FROM ph, UNNEST(generate_series(0, 6)) AS t(b)
    ),
    pcapped AS (
        SELECT doc_id, phash, band, key FROM pbands
        QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= 1000
    ),
    ppairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pcapped a JOIN pcapped b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 6
    ),
    dbands AS (
        SELECT doc_id, dhash, t.b AS band,
               (dhash >> (t.b * 14)) & 16383 AS key
        FROM dh2, UNNEST(generate_series(0, 3)) AS t(b)
    ),
    dcapped AS (
        SELECT doc_id, dhash, band, key FROM dbands
        QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= 1000
    ),
    dpairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM dcapped a JOIN dcapped b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
    ),
    u AS (
        SELECT COALESCE(p.id_a, d.id_a) AS id_a,
               COALESCE(p.id_b, d.id_b) AS id_b,
               (p.id_a IS NOT NULL) AS in_p,
               (d.id_a IS NOT NULL) AS in_d
        FROM ppairs p FULL OUTER JOIN dpairs d
          ON p.id_a = d.id_a AND p.id_b = d.id_b
    )
    SELECT CAST(SUM(CASE WHEN in_p AND in_d THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both,
           CAST(SUM(CASE WHEN in_d AND NOT in_p THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dhash_only,
           CAST(SUM(CASE WHEN in_p AND NOT in_d THEN 1 ELSE 0 END) AS BIGINT)
               AS n_phash_only
    FROM u
    """,
)
def mm_hash_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-agreement audit between the two certified image near-dup
    pipelines at their operating thresholds (dHash 4x14 banding vs DCT
    pHash 7x9 banding, both Hamming <= 6): how many pairs BOTH hashes
    flag, and how many each catches alone — the cross-check an image
    dedup deployment reads before choosing one hash or unioning both
    (the dd_band_curve philosophy applied across METHODS instead of
    across banding points). Composes two already-certified pipelines;
    one full-outer join of two bounded pair sets, three counts."""
    docs = load_table(spark, sf_dir, "documents")
    bmps = M.encode_bmp(docs)
    dp = M.dhash_near_pairs(
        M.dhash_bmp(bmps)
    ).select("id_a", "id_b")
    pp = M.dhash_near_pairs(
        M.phash_dct_bmp(bmps).withColumnRenamed("phash", "dhash"),
        bands=7,
        band_bits=9,
    ).select("id_a", "id_b")
    u = pp.withColumn("in_p", F.lit(True)).join(
        dp.withColumn("in_d", F.lit(True)), ["id_a", "id_b"], "full_outer"
    )
    return u.agg(
        F.sum(
            F.when(F.col("in_p").isNotNull() & F.col("in_d").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
        F.sum(
            F.when(F.col("in_d").isNotNull() & F.col("in_p").isNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_dhash_only"),
        F.sum(
            F.when(F.col("in_p").isNotNull() & F.col("in_d").isNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_phash_only"),
    )


@query(
    "tx_keyness",
    oracle=f"""
    WITH w AS (
        SELECT source, u AS word
        FROM documents,
             UNNEST({words_sql("text")}) AS t(u)
    ),
    cnt AS (
        SELECT source, word, CAST(COUNT(*) AS BIGINT) AS y
        FROM w GROUP BY 1, 2
    ),
    tot AS (SELECT source, CAST(SUM(y) AS BIGINT) AS n FROM cnt GROUP BY 1),
    wtot AS (
        SELECT word, CAST(SUM(y) AS BIGINT) AS yw FROM cnt GROUP BY 1
    ),
    gt AS (SELECT CAST(SUM(y) AS BIGINT) AS ng FROM cnt),
    scored AS (
        SELECT c.source, c.word, c.y, t.n, wt.yw, g.ng,
               ROUND(
                   (LN((c.y + 0.01 * wt.yw) * 1.0
                       / (t.n + 0.01 * g.ng - c.y - 0.01 * wt.yw))
                    - LN((wt.yw - c.y + 0.01 * wt.yw) * 1.0
                         / (g.ng - t.n + 0.01 * g.ng
                            - (wt.yw - c.y) - 0.01 * wt.yw)))
                   / SQRT(1.0 / (c.y + 0.01 * wt.yw)
                          + 1.0 / (wt.yw - c.y + 0.01 * wt.yw)),
                   6) AS z6
        FROM cnt c
        JOIN tot t ON t.source = c.source
        JOIN wtot wt ON wt.word = c.word
        CROSS JOIN gt g
    )
    SELECT source, word, y, z6, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY z6 DESC, word ASC) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def tx_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per source by LOG-ODDS KEYNESS with an
    informative Dirichlet prior (Monroe et al.'s "Fightin' Words") — the
    corpus-comparison readout curation uses to answer "what is source X
    actually about, relative to everything else?" where raw frequency
    lists just repeat stopwords. Each (source, word) gets the z-scored
    log-odds difference against the rest of the corpus, with the
    corpus-wide word rate (scaled by 0.01) as the prior that shrinks
    rare-word noise. Counts collapse map-side to vocab x sources rows;
    the score is a per-row scalar chain (two LN, one SQRT — the repo's
    rounded-libm convention) over exact integer counts; top-5 per source
    via one bounded window."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(
            words(F.col("text"))
        ).alias("word"),
    )
    cnt = w.groupBy("source", "word").agg(F.count(F.lit(1)).alias("y"))
    tot = cnt.groupBy("source").agg(F.sum("y").alias("n"))
    wtot = cnt.groupBy("word").agg(F.sum("y").alias("yw"))
    gt = cnt.agg(F.sum("y").alias("ng"))
    a = 0.01
    yp = F.col("y") + a * F.col("yw")
    yrest = F.col("yw") - F.col("y") + a * F.col("yw")
    scored = (
        cnt.join(tot, "source")
        .join(wtot, "word")
        .crossJoin(F.broadcast(gt))
        .select(
            "source",
            "word",
            "y",
            F.round(
                (
                    F.log(
                        yp
                        * 1.0
                        / (F.col("n") + a * F.col("ng") - yp)
                    )
                    - F.log(
                        yrest
                        * 1.0
                        / (
                            F.col("ng")
                            - F.col("n")
                            + a * F.col("ng")
                            - yrest
                        )
                    )
                )
                / F.sqrt(1.0 / yp + 1.0 / yrest),
                6,
            ).alias("z6"),
        )
    )
    w_ = Window.partitionBy("source").orderBy(F.desc("z6"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w_).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("source", "word", "y", "z6", "rank")
    )


@query(
    "tx_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ),
    cc AS (
        SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
        FROM ch GROUP BY 1, 2
    ),
    nt AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n FROM cc GROUP BY 1)
    SELECT cc.doc_id, nt.n AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(ROUND(-(cc.k * 1.0 / nt.n)
                               * LN(cc.k * 1.0 / nt.n) / LN(2.0), 6)
                         AS DECIMAL(18,6))) AS DOUBLE) AS entropy_bits6
    FROM cc JOIN nt ON nt.doc_id = cc.doc_id
    GROUP BY cc.doc_id, nt.n
    """,
)
def tx_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char over the
    char distribution) — the cheapest garbage detector in the curation
    stack: padding runs, base64 blobs and single-char spam sit at the
    entropy extremes where token-level filters (tx_quality_scores,
    tx_repetition) can be blind. Per-(doc, char) counts collapse
    map-side; entropy terms round to 6 then sum as DECIMAL
    (order-independent, the sim_cluster_purity convention); the whole
    query is two keyed aggregations that ride the scan."""
    docs = load_table(spark, sf_dir, "documents")
    cc = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), "")).alias("c")
        )
        .filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    nt = cc.groupBy("doc_id").agg(F.sum("k").alias("n"))
    p = F.col("k") * 1.0 / F.col("n")
    return (
        cc.join(nt, "doc_id")
        .select(
            "doc_id",
            "n",
            F.round(-p * F.log(p) / F.log(F.lit(2.0)), 6)
            .cast("decimal(18,6)")
            .alias("term"),
        )
        .groupBy("doc_id", F.col("n").alias("n_chars"))
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("term").cast("double").alias("entropy_bits6"),
        )
        .select("doc_id", "n_chars", "n_distinct", "entropy_bits6")
    )


#: the hash of the 13-word gram of ``ws`` starting at word ``i``
_GRAM13 = md5_long_sql("array_to_string(list_slice(ws, i, i + 12), ' ')")


@query(
    "tx_decontaminate_13gram",
    oracle=f"""
    WITH ws AS (
        SELECT doc_id, source,
               {words_sql("text")} AS ws
        FROM documents
    ),
    eg AS (
        SELECT DISTINCT {_GRAM13} AS h
        FROM ws, UNNEST(generate_series(1, len(ws) - 12)) AS t(i)
        WHERE doc_id % 97 = 0 AND len(ws) >= 13
    ),
    dg AS (
        SELECT DISTINCT doc_id,
               {_GRAM13} AS h
        FROM ws, UNNEST(generate_series(1, len(ws) - 12)) AS t(i)
        WHERE doc_id % 97 != 0 AND len(ws) >= 13
    ),
    hits AS (
        SELECT dg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM dg JOIN eg ON eg.h = dg.h
        GROUP BY dg.doc_id
    )
    SELECT w.doc_id,
           CAST(GREATEST(len(w.ws) - 12, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(CASE WHEN COALESCE(h.n_hits, 0) > 0 THEN 0 ELSE 1 END
                AS INTEGER) AS keep_doc
    FROM ws w LEFT JOIN hits h ON h.doc_id = w.doc_id
    WHERE w.doc_id % 97 != 0
    """,
)
def tx_decontaminate_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 13-GRAM decontamination — the published standard (the GPT-3
    appendix / PaLM convention: a training document is contaminated if
    it shares any exact 13-token run with the evaluation set; one hit
    drops the doc). The eval stand-in is the deterministic doc_id%97
    slice; every other document is scored by distinct 13-gram hash
    overlap against the eval index and verdicted keep/drop. This is the
    NAMED-threshold gate beside tx_contamination's cross-source trigram
    matrix (which measures leakage structure; this one enforces the
    actual filter). Distinct gram hashes collapse map-side; the probe is
    one hash-keyed join against the eval index (eval-sized, broadcast at
    any corpus scale); docs shorter than 13 tokens have nothing to leak
    and pass. 15-hex md5 hashes — the MinHash family convention."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select(
        "doc_id",
        words(F.col("text")).alias("ws"),
    )
    gram = F.explode(
        F.expr(
            "CASE WHEN size(ws) >= 13 THEN "
            "transform(sequence(1, size(ws) - 12), "
            "i -> concat_ws(' ', slice(ws, i, 13))) "
            "ELSE array() END"
        )
    ).alias("g")
    h = md5_long(F.col("g"))
    eg = (
        ws.filter(F.col("doc_id") % 97 == 0)
        .select(gram)
        .select(h.alias("h"))
        .distinct()
    )
    # n_hits counts DISTINCT doc grams present in the eval index. Joining
    # the RAW gram stream against eg first and counting distinct matches
    # is value-identical to distinct-then-join, and moves the corpus-wide
    # (doc_id, h) distinct shuffle (every gram of every doc — the
    # dominant exchange here, measured 1.16s of this query's 2.1s at
    # sf0.1) to AFTER the eval-index filter, where only contaminated
    # grams survive (near-zero rows at any scale). guide §2.3: aggregate/
    # filter before the shuffle; the join itself stays hash-keyed with an
    # eval-sized build side.
    dg = (
        ws.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", gram)
        .select("doc_id", h.alias("h"))
    )
    hits = dg.join(eg, "h").groupBy("doc_id").agg(
        F.countDistinct("h").alias("n_hits")
    )
    return (
        ws.filter(F.col("doc_id") % 97 != 0)
        .select(
            "doc_id",
            F.greatest(F.size("ws") - 12, F.lit(0)).cast("long").alias("n_grams"),
        )
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.when(F.coalesce("n_hits", F.lit(0)) > 0, F.lit(0))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("keep_doc"),
        )
    )


def _contaminated_cte(w: str, where: str = "") -> str:
    """``contaminated``: the documents of ``w`` (doc_id, ws) that share a
    13-gram with the eval split (doc_id % 97 = 0); ``where`` narrows the
    candidates."""
    return f"""
    ceg AS (
        SELECT DISTINCT {_GRAM13} AS h
        FROM {w}, UNNEST(generate_series(1, len(ws) - 12)) AS t(i)
        WHERE doc_id % 97 = 0 AND len(ws) >= 13
    ),
    cdg AS (
        SELECT DISTINCT doc_id, {_GRAM13} AS h
        FROM {w}, UNNEST(generate_series(1, len(ws) - 12)) AS t(i)
        WHERE doc_id % 97 != 0{where} AND len(ws) >= 13
    ),
    contaminated AS (
        SELECT DISTINCT cdg.doc_id FROM cdg JOIN ceg ON ceg.h = cdg.h
    )"""


def _curation_pipeline_oracle() -> str:
    """The composed end-to-end curation oracle: the frozen ANN recall gate
    (sim_recall_floor's IVF-PQ vs brute-force arm), CCNet terciles
    (tx_ccnet_buckets' LM CTEs), 13-gram decontamination
    (tx_decontaminate_13gram's gram hashing), and the 500-token shard
    prefix sum (tx_pack_shards' window form) — stitched from the SAME CTE
    fragments the component oracles use, so a hash match certifies the
    composed row flow, not a re-derivation."""
    return f"""
    WITH {_IVF_PQ_CTES},{_EXACT_TOP_CTE},{_adc_top_cte()},{_hits_cte("ghits")},
    per_q AS (
        SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits
        FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
        LEFT JOIN ghits h ON h.query_id = q.query_id
    ),
    gate AS (
        SELECT ROUND(SUM(n_hits) / (10.0 * COUNT(*)), 6) >= 0.6
                   AS index_gate_passed
        FROM per_q
    ),{_LM_CTE},
    buckets AS (
        SELECT doc_id, avg_logprob,
               CASE NTILE(3) OVER (ORDER BY avg_logprob DESC, doc_id)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
               END AS bucket
        FROM lm
    ),
    {_contaminated_cte("w")},
    surv AS (
        SELECT b.doc_id, b.bucket, len(w.ws) AS n_tokens
        FROM buckets b JOIN w ON w.doc_id = b.doc_id
        WHERE b.bucket != 'tail'
          AND b.doc_id % 97 != 0
          AND b.doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT s.doc_id, s.bucket, CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(COALESCE(SUM(s.n_tokens) OVER (
                    ORDER BY s.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 500.0) AS BIGINT) AS shard,
           g.index_gate_passed
    FROM surv s CROSS JOIN gate g
    """


def _pack_inputs(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(keep, toks): the doc_ids tx_decontaminate_13gram keeps, and each
    document's whitespace-token count (doc_id, n_tokens) — the eval gate
    and the shard weights both curation pipelines pack with."""
    from odbc2parquet_spark.queries import QUERIES

    keep = (
        QUERIES["tx_decontaminate_13gram"](spark, sf_dir)
        .filter(F.col("keep_doc") == 1)
        .select("doc_id")
    )
    toks = docs.select("doc_id", F.size(X.words(F.col("text"))).cast("long").alias("n_tokens"))
    return keep, toks


@query("tx_curation_pipeline", oracle=_curation_pipeline_oracle())
def tx_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline at the composition level the
    per-query bench cannot see: the frozen production ANN operating point
    (sim_recall_floor: IVF-PQ nprobe=4/m=32/k=256 vs the brute-force
    ground truth, recall@10 >= 0.6 evaluated in-query) gates the run;
    documents pass the CCNet head/middle tercile filter
    (tx_ccnet_buckets — tail dropped), then EXACT 13-gram
    decontamination against the doc_id%97 eval slice
    (tx_decontaminate_13gram — eval docs themselves excluded), and the
    survivors pack into ~500-token shards via the two-pass prefix sum
    (tx_pack_shards). Composed FROM the registry entries themselves, so
    the pipeline runs exactly the operators the driver verifies
    individually; cross-operator interference (checkpoint/persist
    contention, codegen-cache pressure between the Arrow ANN stages and
    the token pipelines) shows up here and nowhere else. The gate is a
    1-row broadcast cross; every corpus-scale stage is keyed. At 100 TB
    the only global structure is the shard prefix sum's
    32-long offset table and the NTILE tercile (documented
    rank->cutpoint substitution in tx_ccnet_buckets)."""
    from odbc2parquet_spark.operators.sharding import pack_shards_two_pass
    from odbc2parquet_spark.queries import QUERIES

    gate = QUERIES["sim_recall_floor"](spark, sf_dir).select(
        F.col("passed").alias("index_gate_passed")
    )
    buckets = (
        QUERIES["tx_ccnet_buckets"](spark, sf_dir)
        .filter(F.col("bucket") != "tail")
        .select("doc_id", "bucket")
    )
    keep, toks = _pack_inputs(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    # Persist the NARROW survivor table (doc_id, bucket, n_tokens — the
    # "decision rows", never the text): pack_shards_two_pass evaluates
    # its input three times (approx-quantile boundary pass, per-bucket
    # offset pass, final cumsum pass) and the closing join re-read it a
    # fourth — unpersisted, each evaluation re-ran the ENTIRE upstream
    # pipeline (CCNet LM + tercile + 13-gram decontamination: 21 parquet
    # scans / 24 shuffle exchanges across the executed passes, and the
    # two collect-side passes re-derived the same subtree again during
    # construction; standalone median 14.4s at sf0.1). Cached once,
    # every pass is a narrow-row cache scan (17 scans / 19 exchanges,
    # standalone median 6.8s — plans/r11/). The final join takes
    # `bucket` from the persisted rows instead of re-deriving the
    # tercile subtree. ~32 bytes/surviving doc, so at 100 TB the cache
    # is a few hundred GB cluster-wide — MEMORY_AND_DISK absorbs it.
    # Ownership: tracked in cachereg — the session owner releases after
    # its action (the bench's clearCache-per-rep covers the bench).
    surv = cachereg.track(
        buckets.join(keep, "doc_id").join(toks, "doc_id").persist()
    )
    shards = pack_shards_two_pass(surv.select("doc_id", "n_tokens"))
    return (
        shards.join(surv.select("doc_id", "bucket"), "doc_id")
        .crossJoin(F.broadcast(gate))
        .select("doc_id", "bucket", "n_tokens", "shard", "index_gate_passed")
    )


@query(
    "tx_ccnet_crosslm",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source,
               {words_sql("text")} AS ws
        FROM documents
    ),
    tb AS (
        SELECT ws[i] AS a, ws[i+1] AS b
        FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE source = 'src0' AND len(ws) >= 2
    ),
    cab AS (SELECT a, b, COUNT(*) AS cab FROM tb GROUP BY 1, 2),
    ctx AS (SELECT a, COUNT(*) AS ctx FROM tb GROUP BY 1),
    vocab AS (
        SELECT COUNT(DISTINCT t.w) AS v
        FROM (SELECT UNNEST(ws) AS w FROM w WHERE source = 'src0') t
    ),
    sb AS (
        SELECT doc_id, ws[i] AS a, ws[i+1] AS b
        FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE source != 'src0' AND len(ws) >= 2
    ),
    terms AS (
        SELECT sb.doc_id,
               CAST(ROUND(LN((2 * COALESCE(cab.cab, 0) + 1)
                             / (2 * COALESCE(ctx.ctx, 0) + v.v)), 6)
                    AS DECIMAL(18,6)) AS term,
               CASE WHEN cab.cab IS NULL THEN 1 ELSE 0 END AS oov
        FROM sb
        LEFT JOIN cab ON cab.a = sb.a AND cab.b = sb.b
        LEFT JOIN ctx ON ctx.a = sb.a
        CROSS JOIN vocab v
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           (CASE WHEN SUM(term) < 0 THEN -1 ELSE 1 END
            * ((2 * abs(CAST(SUM(term) * 1000000 AS BIGINT)) + COUNT(*))
               // (2 * COUNT(*)))) / 1e6 AS avg_logprob,
           ROUND(SUM(oov) / COUNT(*), 6) AS oov_rate
    FROM terms GROUP BY doc_id
    """,
)
def tx_ccnet_crosslm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TRAINED CCNet quality model (operators/text.
    bigram_lm_scores_cross): the add-0.5 bigram LM is trained on the
    trusted reference slice (source = src0 — the stand-in for CCNet's
    Wikipedia KenLM) and every OTHER document is scored against that
    FIXED model, with oov_rate reporting the bigram mass the reference
    never saw. This is the published design tx_bigram_lm_score
    approximates by self-training: a junk document can no longer improve
    its own model, and domain shift is explicit in oov_rate instead of
    silently deflating scores. Model tables are reference-bounded
    (broadcastable at any crawl size); scoring is bigram-keyed left
    joins over the crawl stream."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") == "src0")
    score = docs.filter(F.col("source") != "src0")
    return X.bigram_lm_scores_cross(train, score)


@query(
    "tx_ccnet_cutpoints",
    oracle="WITH " + _LM_CTE + f""",
    hk AS (
        SELECT doc_id, avg_logprob,
               {md5_long_sql("CAST(doc_id AS VARCHAR)")} AS hk
        FROM lm
    ),
    samp AS (
        SELECT doc_id, avg_logprob FROM (
            SELECT doc_id, avg_logprob,
                   ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rn
            FROM hk
        ) WHERE rn <= 256
    ),
    ranked AS (
        SELECT doc_id, avg_logprob,
               ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, doc_id) AS vr,
               COUNT(*) OVER () AS m
        FROM samp
    ),
    cuts AS (
        SELECT
            MAX(CASE WHEN vr = (m + 2) // 3 THEN avg_logprob END) AS c1s,
            MAX(CASE WHEN vr = (m + 2) // 3 THEN doc_id END) AS c1d,
            MAX(CASE WHEN vr = (2 * m + 2) // 3 THEN avg_logprob END) AS c2s,
            MAX(CASE WHEN vr = (2 * m + 2) // 3 THEN doc_id END) AS c2d
        FROM ranked
    )
    SELECT lm.doc_id, lm.avg_logprob,
           CASE WHEN lm.avg_logprob > c.c1s
                     OR (lm.avg_logprob = c.c1s AND lm.doc_id <= c.c1d)
                THEN 'head'
                WHEN lm.avg_logprob > c.c2s
                     OR (lm.avg_logprob = c.c2s AND lm.doc_id <= c.c2d)
                THEN 'middle'
                ELSE 'tail'
           END AS bucket
    FROM lm CROSS JOIN cuts c
    """,
)
def tx_ccnet_cutpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH CCNet tercile assignment — the rank->cutpoint
    substitution tx_ccnet_buckets' docstring promises for 10^9+ docs,
    IMPLEMENTED: tercile boundaries come from the deterministic bottom-256
    md5(doc_id) hash sample (the KMV convention — engine-reproducible,
    unlike approx_percentile), and every document is bucketed by ONE
    broadcast comparison against the two (score, doc_id) cutpoints. No
    global sort anywhere: the sample is a TakeOrdered top-k (local top-256
    per partition, merged on the driver side of the limit), the cutpoint
    extraction is a <=256-row fold, and the bucket pass is map-side. The
    cutpoint carries the doc_id tiebreak so the comparison is total —
    both engines agree on every row even at score ties. Buckets are
    sample-approximate (+-O(1/sqrt(256)) boundary placement) where
    tx_ccnet_buckets' NTILE is exact — the documented trade the curation
    pipeline makes when the corpus outgrows a single range partition."""
    lm = X.bigram_lm_scores(load_table(spark, sf_dir, "documents"))
    hk = md5_long(F.col("doc_id").cast("string"))
    samp = (
        lm.select("doc_id", "avg_logprob", hk.alias("hk"))
        .orderBy("hk", "doc_id")
        .limit(256)
    )
    w = Window.orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
    ranked = (
        samp.withColumn("vr", F.row_number().over(w))
        .withColumn("m", F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))))
    )
    cut_at = lambda r: F.max(  # noqa: E731
        F.when(F.col("vr") == r, F.struct("avg_logprob", "doc_id"))
    )
    cuts = ranked.agg(
        cut_at(F.expr("(m + 2) div 3")).alias("c1"),
        cut_at(F.expr("(2 * m + 2) div 3")).alias("c2"),
    )
    before = lambda c: (F.col("avg_logprob") > F.col(f"{c}.avg_logprob")) | (  # noqa: E731
        (F.col("avg_logprob") == F.col(f"{c}.avg_logprob"))
        & (F.col("doc_id") <= F.col(f"{c}.doc_id"))
    )
    return lm.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "avg_logprob",
        F.when(before("c1"), F.lit("head"))
        .when(before("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def _curation_delta_oracle() -> str:
    """The INCREMENTAL curation oracle: a new crawl batch (doc_id >= 250)
    curated against the EXISTING corpus's persisted state — the MinHash
    band-key index (dd_incremental_minhash's CTEs verbatim), the corpus-
    trained bigram LM + its frozen quality cutpoint, the eval 13-gram
    index, and the live IVF centroids (sim_ivf_delta_assign's CTEs) —
    stitched from the same fragments the component oracles use."""
    return f"""
    WITH {_SHINGLES_CTE.format(where="")},
    sig AS (SELECT id, {_MINHASH_MINS} FROM sh GROUP BY id),{_INCREMENTAL_DROPPED_CTE},
    dedup_surv AS (
        SELECT doc_id FROM documents
        WHERE doc_id >= 250 AND doc_id NOT IN (SELECT new_id FROM dropped)
    ),
    wq AS (
        SELECT doc_id, {words_sql("text")} AS ws
        FROM documents
    ),
    tb AS (
        SELECT ws[i] AS a, ws[i+1] AS b
        FROM wq, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE doc_id < 250 AND len(ws) >= 2
    ),
    cab AS (SELECT a, b, COUNT(*) AS cab FROM tb GROUP BY 1, 2),
    ctx AS (SELECT a, COUNT(*) AS ctx FROM tb GROUP BY 1),
    vocab AS (
        SELECT COUNT(DISTINCT t.w) AS v
        FROM (SELECT UNNEST(ws) AS w FROM wq WHERE doc_id < 250) t
    ),
    sbg AS (
        SELECT doc_id, ws[i] AS a, ws[i+1] AS b
        FROM wq, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2
    ),
    terms AS (
        SELECT sbg.doc_id,
               CAST(ROUND(LN((2 * COALESCE(cab.cab, 0) + 1)
                             / (2 * COALESCE(ctx.ctx, 0) + v.v)), 6)
                    AS DECIMAL(18,6)) AS term
        FROM sbg
        LEFT JOIN cab ON cab.a = sbg.a AND cab.b = sbg.b
        LEFT JOIN ctx ON ctx.a = sbg.a
        CROSS JOIN vocab v
    ),
    scores AS (
        SELECT doc_id,
               (CASE WHEN SUM(term) < 0 THEN -1 ELSE 1 END
                * ((2 * abs(CAST(SUM(term) * 1000000 AS BIGINT)) + COUNT(*))
                   // (2 * COUNT(*)))) / 1e6 AS avg_logprob
        FROM terms GROUP BY doc_id
    ),
    corpus_ranked AS (
        SELECT doc_id, avg_logprob,
               ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, doc_id) AS vr,
               COUNT(*) OVER () AS m
        FROM scores WHERE doc_id < 250
    ),
    cut AS (
        SELECT MAX(CASE WHEN vr = (2 * m + 2) // 3 THEN avg_logprob END) AS c2s,
               MAX(CASE WHEN vr = (2 * m + 2) // 3 THEN doc_id END) AS c2d
        FROM corpus_ranked
    ),
    quality AS (
        SELECT s.doc_id, s.avg_logprob
        FROM scores s CROSS JOIN cut c
        WHERE s.doc_id >= 250
          AND (s.avg_logprob > c.c2s
               OR (s.avg_logprob = c.c2s AND s.doc_id <= c.c2d))
    ),
    {_contaminated_cte("wq", " AND doc_id >= 250")},
    {_delta_scored_ctes("dv", "dscored")},
    assigned AS (
        SELECT vec_id, centroid_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cos4 DESC, centroid_id) AS rnk
            FROM dscored
        ) WHERE rnk = 1
    ),
    dstats AS (
        SELECT COUNT(*) AS delta_vecs,
               COUNT(DISTINCT centroid_id) AS delta_cells
        FROM assigned
    ),
    surv AS (
        SELECT q.doc_id, q.avg_logprob, len(wq.ws) AS n_tokens
        FROM quality q
        JOIN dedup_surv d ON d.doc_id = q.doc_id
        JOIN wq ON wq.doc_id = q.doc_id
        WHERE q.doc_id % 97 != 0
          AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT s.doc_id, s.avg_logprob, CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(COALESCE(SUM(s.n_tokens) OVER (
                    ORDER BY s.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 500.0) AS BIGINT) AS shard,
           g.delta_vecs, g.delta_cells
    FROM surv s CROSS JOIN dstats g
    """


@query("tx_curation_delta", oracle=_curation_delta_oracle())
def tx_curation_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL curation: a NEW crawl batch (doc_id >= 250) curated
    against the EXISTING corpus's state — the 100 TB deployment reality,
    where crawls arrive continuously and "re-run the pipeline from
    scratch" is not an option. Composed from the registry's incremental
    arms, so each stage is one the driver verifies in isolation:

    1. near-dup gate vs the CORPUS (dd_incremental_minhash — at scale
       the corpus side is a stored band-key index; per-batch cost
       scales with the batch);
    2. quality bar FROZEN from corpus state: the bigram LM trains on
       corpus docs only (bigram_lm_scores_cross — a batch document can
       never improve its own model), and the cutpoint is the corpus
       self-score tercile boundary carried as a (score, doc_id) pair so
       the comparison is total (same rank->cutpoint scheme as
       tx_ccnet_cutpoints; at 10^9+ corpora the KMV-sampled variant
       substitutes, and either way the persisted state is two doubles);
    3. exact 13-gram decontamination of the batch against the eval
       slice (tx_decontaminate_13gram — the eval gram index persists
       between batches);
    4. IVF index maintenance: the batch's embedding delta routes to the
       EXISTING centroids (sim_ivf_delta_assign), reported as a 1-row
       broadcast (delta_vecs, delta_cells) audit stat;
    5. survivors pack into ~500-token shards (two-pass prefix sum).

    Persisted state between batches, with sizes: band-key index
    (|corpus| x bands rows of (band, key, id) — the only corpus-sized
    piece, equi-join-keyed), LM tables (reference-bounded,
    broadcastable), one quality cutpoint struct, the eval gram set
    (|eval| 13-gram hashes), and k_cells centroid vectors."""
    from odbc2parquet_spark.operators.sharding import pack_shards_two_pass
    from odbc2parquet_spark.queries import QUERIES

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    dedup_surv = QUERIES["dd_incremental_minhash"](spark, sf_dir)
    # Persist the per-doc LM scores (2 narrow columns): the cross-LM
    # scoring subtree feeds BOTH the corpus-side cutpoint derivation and
    # the batch-side quality filter — unpersisted it trains and applies
    # the bigram model twice.
    scores = cachereg.track(
        X.bigram_lm_scores_cross(corpus, docs)
        .select("doc_id", "avg_logprob")
        .persist()
    )
    w = Window.orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
    corpus_ranked = (
        scores.filter(F.col("doc_id") < 250)
        .withColumn("vr", F.row_number().over(w))
        .withColumn("m", F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))))
    )
    cut = corpus_ranked.agg(
        F.max(
            F.when(
                F.col("vr") == F.expr("(2 * m + 2) div 3"),
                F.struct("avg_logprob", "doc_id"),
            )
        ).alias("c2")
    )
    quality = (
        scores.filter(F.col("doc_id") >= 250)
        .crossJoin(F.broadcast(cut))
        .filter(
            (F.col("avg_logprob") > F.col("c2.avg_logprob"))
            | (
                (F.col("avg_logprob") == F.col("c2.avg_logprob"))
                & (F.col("doc_id") <= F.col("c2.doc_id"))
            )
        )
        .select("doc_id", "avg_logprob")
    )
    keep, toks = _pack_inputs(spark, sf_dir, docs)
    dstats = QUERIES["sim_ivf_delta_assign"](spark, sf_dir).agg(
        F.count("*").alias("delta_vecs"),
        F.countDistinct("centroid_id").alias("delta_cells"),
    )
    # Persist the NARROW survivor table (doc_id, avg_logprob, n_tokens)
    # for the same reason as tx_curation_pipeline: pack_shards_two_pass
    # makes three passes over its input and the closing join a fourth,
    # and here the input subtree composes the incremental MinHash gate,
    # the cross-LM quality filter AND the 13-gram decontamination (40
    # parquet scans / 53 shuffle exchanges in the unpersisted plan;
    # suite median 20.0s — the suite's slowest entry; standalone median
    # 15.6s). With `scores` and `surv` cached: 17 scans / 23 exchanges,
    # standalone median 6.5s (plans/r11/). The cache is ~24 bytes per
    # surviving batch doc — batch-sized at deployment, never
    # corpus-sized.
    surv = cachereg.track(
        quality.join(dedup_surv, "doc_id")
        .join(keep, "doc_id")
        .join(toks, "doc_id")
        .persist()
    )
    shards = pack_shards_two_pass(surv.select("doc_id", "n_tokens"))
    return (
        shards.join(surv.select("doc_id", "avg_logprob"), "doc_id")
        .crossJoin(F.broadcast(dstats))
        .select(
            "doc_id",
            "avg_logprob",
            "n_tokens",
            "shard",
            "delta_vecs",
            "delta_cells",
        )
    )
