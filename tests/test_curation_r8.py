"""Round-8 operator tests: LM scoring, Gopher rules, soft dedup, CDC
chunking, neighbor-Jaccard links, audio VAD frames."""

import math

import pytest
from pyspark.sql import functions as F


def test_gopher_rules_flags(spark):
    from odbc2parquet_spark.operators.text import gopher_rules

    good = " ".join(["the quick brown fox with that have of be to a"] * 6)
    docs = spark.createDataFrame(
        [
            (1, good),  # 60 words, all rules pass
            (2, "too short"),  # fails word count
            (3, " ".join(["####"] * 60)),  # no alpha, no stopwords, symbols
            (4, "\n".join(["- bullet line"] * 50)),  # bullet-led lines
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in gopher_rules(docs).collect()}
    assert rows[1].keep_doc == 1
    assert rows[2].ok_word_count == 0 and rows[2].keep_doc == 0
    assert rows[3].ok_alpha == 0 and rows[3].ok_stopwords == 0
    assert rows[4].ok_bullet == 0


def test_gopher_mean_word_len_boundaries(spark):
    from odbc2parquet_spark.operators.text import gopher_rules

    # mean word length exactly 3 passes (inclusive), below 3 fails
    docs = spark.createDataFrame(
        [(1, " ".join(["abc"] * 60)), (2, " ".join(["ab"] * 60))],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in gopher_rules(docs).collect()}
    assert rows[1].ok_mean_word_len == 1
    assert rows[2].ok_mean_word_len == 0


def test_bigram_lm_scores_hand_computed(spark):
    from odbc2parquet_spark.operators.text import bigram_lm_scores

    # corpus "a b" x2 and "a c": V=3, ctx(a)=3, c(a,b)=2, c(a,c)=1
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
    t_ab = round(math.log((2 * 2 + 1) / (2 * 3 + 3)), 6)
    t_ac = round(math.log((2 * 1 + 1) / (2 * 3 + 3)), 6)
    assert rows[1].n_bigrams == 1
    assert rows[1].avg_logprob == pytest.approx(t_ab, abs=1e-9)
    assert rows[3].avg_logprob == pytest.approx(t_ac, abs=1e-9)


def test_soft_dedup_weights_sum_to_group_count(spark, sf_dir):
    from odbc2parquet_spark.queries import QUERIES

    df = QUERIES["dd_soft_dedup"](spark, sf_dir)
    agg = df.agg(
        F.countDistinct("group_id").alias("groups"),
        F.sum("weight").alias("wsum"),
        F.count("*").alias("docs"),
    ).collect()[0]
    # each group's weights sum to ~1 (exact up to the 1e-6 rounding)
    assert agg.wsum == pytest.approx(agg.groups, abs=1e-3)
    assert agg.docs >= agg.groups


def test_cdc_chunks_deterministic_and_shared(spark):
    # two docs sharing a long token run + one unrelated: the shared run
    # must produce at least one chunk with n_docs=2
    shared = "alpha beta gamma delta epsilon zeta eta theta " * 6
    docs = spark.createDataFrame(
        [
            (1, shared + "tail one"),
            (2, "head two " + shared),
            (3, "nothing in common here at all"),
        ],
        ["doc_id", "text"],
    )
    docs.createOrReplaceTempView("documents")
    # call the query body directly on the temp view via its operator logic:
    # reuse the registered callable with a temp dir is awkward; instead
    # re-run the same pipeline inline
    from pyspark.sql import Window

    from odbc2parquet_spark.operators.text import words

    tok = docs.select(
        "doc_id", F.posexplode(words(F.col("text"))).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    bd = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long") % 16
        == 0
    ).cast("long")
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = tok.withColumn("chunk_id", F.coalesce(F.sum(bd).over(win), F.lit(0)))
    ch = c.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s.getField("w"),
                ),
            )
        ).alias("chunk_hash")
    )
    shared_chunks = (
        ch.groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .collect()
    )
    assert len(shared_chunks) >= 1
    # doc 3 shares nothing
    d3 = {r.chunk_hash for r in ch.filter(F.col("doc_id") == 3).collect()}
    d12 = {
        r.chunk_hash for r in ch.filter(F.col("doc_id") != 3).collect()
    }
    assert not (d3 & d12)


def test_audio_frame_energy_totals_match_sample_decode(spark, sf_dir):
    from odbc2parquet_spark.catalog import load_table
    from odbc2parquet_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").limit(20)
    wav = M.encode_wav(docs)
    frames = M.decode_audio_frame_energy(wav)
    totals = frames.groupBy("doc_id").agg(
        F.sum("sum_sq").alias("ss"), F.sum("n").alias("n")
    )
    ref = M.decode_audio_samples(wav).select("doc_id", "n_int16", "sum_sq")
    joined = totals.join(ref, "doc_id").collect()
    assert len(joined) == 20
    for r in joined:
        assert r.ss == r.sum_sq and r.n == r.n_int16


def test_jaccard_links_bounds(spark, sf_dir):
    from odbc2parquet_spark.queries import QUERIES

    rows = QUERIES["sim_jaccard_links"](spark, sf_dir).collect()
    assert rows, "expected at least one scored link"
    for r in rows:
        assert 0.0 < r.jaccard <= 1.0
        assert r.common >= 1
        assert r.id_a < r.id_b


def test_kneser_ney_hand_computed(spark):
    from odbc2parquet_spark.operators.text import kneser_ney_scores

    # corpus: "x y" x3, "z y", "x w" -> T=3 types, ctx(x)=4, c(xy)=3,
    # n1a(x)=2, n1b(y)=2; p(y|x) = ((4*3-3)*3 + 3*2*2) / (4*3*4)
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x y"), (3, "x y"), (4, "z y"), (5, "x w")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in kneser_ney_scores(docs).collect()}
    expect = round(math.log(((4 * 3 - 3) * 3 + 3 * 2 * 2) / (4 * 3 * 4)), 6)
    assert rows[1].avg_logprob_kn == pytest.approx(expect, abs=1e-9)
    # KN interpolation: p(y|x) must exceed the discounted MLE alone
    assert rows[1].avg_logprob_kn > math.log((3 - 0.75) / 4) - 1e-9


def test_kneser_ney_context_mass_sums_to_one(spark):
    """Interpolated KN is a proper distribution: for each context a,
    sum over the whole next-word vocabulary of p(b|a) == 1."""
    from fractions import Fraction

    from odbc2parquet_spark.operators.text import words
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "a b c a b d e a"), (2, "b c a d a b"), (3, "c c a b e")],
        ["doc_id", "text"],
    )
    toks = [
        list(r.ws)
        for r in docs.select(words(F.col("text")).alias("ws")).collect()
    ]
    from collections import Counter, defaultdict

    cab: Counter = Counter()
    for ws in toks:
        for x, y in zip(ws, ws[1:]):
            cab[(x, y)] += 1
    ctx: Counter = Counter()
    n1a: defaultdict = defaultdict(set)
    n1b: defaultdict = defaultdict(set)
    for (x, y), c in cab.items():
        ctx[x] += c
        n1a[x].add(y)
        n1b[y].add(x)
    t = len(cab)
    vocab = {w for ws in toks for w in ws}
    d = Fraction(3, 4)
    for a in ctx:
        total = Fraction(0)
        for b in vocab:
            cont = Fraction(len(n1b.get(b, ())), t)
            disc = Fraction(max(cab.get((a, b), 0) - d, Fraction(0)))
            total += disc / ctx[a] + d * len(n1a[a]) / ctx[a] * cont
        assert total == 1, (a, total)


def test_minhash_estimate_bounds(spark, sf_dir):
    from odbc2parquet_spark.queries import QUERIES

    rows = QUERIES["dd_minhash_estimate"](spark, sf_dir).collect()
    assert rows, "expected at least one candidate pair"
    for r in rows:
        assert 0 <= r.matches <= 8
        assert r.est8 == r.matches / 8
        assert 0.0 < r.jacc6 <= 1.0
        # LSH banding (2 rows/band) guarantees at least one band of TWO
        # agreeing hashes for every candidate
        assert r.matches >= 2


def test_ccnet_lang_buckets_partitioned(spark, sf_dir):
    """Each language's docs split into near-equal terciles independently."""
    from collections import Counter

    from odbc2parquet_spark.queries import QUERIES

    rows = QUERIES["tx_ccnet_lang_buckets"](spark, sf_dir).collect()
    per_lang: dict = {}
    for r in rows:
        per_lang.setdefault(r.lang, Counter())[r.bucket] += 1
    for lang, c in per_lang.items():
        assert set(c) <= {"head", "middle", "tail"}, lang
        if sum(c.values()) >= 3:
            assert max(c.values()) - min(c.values()) <= 1, (lang, c)


def test_nprobe_curve_equals_independent_searches(spark, sf_dir):
    """The shared-index curve (one build, rank-filtered operating
    points) must return exactly the per-nprobe results of independent
    IVF-PQ searches — the candidates(p) == candidates(max p) filtered to
    probe rank <= p identity. Each reference search is composed here from
    the index pieces with its own probe cut; the one at the production
    cut is ivf_pq_search itself."""
    from odbc2parquet_spark.catalog import load_table
    from odbc2parquet_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    curve = S.ivf_pq_nprobe_curve(emb, probes).collect()
    cents = S.ivf_seed_centroids(emb)
    cell = S.ivf_assign(emb, cents).select("vec_id", "centroid_id")
    cb = S.pq_codebook(emb)
    codes = S.pq_assign(emb, cb).select("vec_id", "subspace", "code")
    lut = S._pq_probe_lut(probes, cb, "vec_id", "embedding")

    def search(p):
        qprobe = S.ivf_probe_cells(probes, cents, p).select("query_id", "centroid_id")
        cand = (
            cell.join(qprobe, "centroid_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id")
        )
        scored = (
            codes.join(cand, "vec_id")
            .join(lut, ["query_id", "subspace", "code"])
            .groupBy("query_id", "vec_id")
            .agg(F.sum("pd2").alias("adc_dec"))
        )
        return S._adc_rank(scored)

    got = {
        p: sorted(
            (r.query_id, r.neighbor_id, r.adc4, r.rank)
            for r in curve
            if r.nprobe == p
        )
        for p in (1, 2, 4, 8)
    }
    assert {r.nprobe for r in curve} == set(got)
    for p in got:
        ref = sorted((r.query_id, r.neighbor_id, r.adc4, r.rank) for r in search(p).collect())
        assert got[p] == ref, p
    production = S.ivf_pq_search(emb, probes).collect()
    assert got[S.NPROBE] == sorted((r.query_id, r.neighbor_id, r.adc4, r.rank) for r in production)


def test_bmp_byte_histogram_consistent_with_pixel_sums(spark, sf_dir):
    """Sum over the histogram of val*c must equal the channel-sum total
    from the independent pixel decode, and total counts must equal
    3 * n_pixels."""
    from odbc2parquet_spark.catalog import load_table
    from odbc2parquet_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").limit(25)
    bmp = M.encode_bmp(docs)
    hist = (
        M.decode_bmp_byte_histogram(bmp)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("byte_total"),
            F.sum("c").alias("n"),
        )
    )
    px = M.decode_bmp_pixels(bmp).select(
        "doc_id",
        (F.col("sum_b") + F.col("sum_g") + F.col("sum_r")).alias("ref_total"),
        (F.col("n_pixels") * 3).alias("ref_n"),
    )
    rows = hist.join(px, "doc_id").collect()
    assert len(rows) == 25
    for r in rows:
        assert r.byte_total == r.ref_total and r.n == r.ref_n


def test_audio_n_at_peak(spark):
    from odbc2parquet_spark.operators.multimodal import (
        decode_audio_samples,
        synth_wav,
    )

    # samples 256, -32767, 32767: peak 32767 reached twice (abs)
    pcm = bytes([0x00, 0x01, 0x01, 0x80, 0xFF, 0x7F])
    wav = synth_wav(pcm, 8000, 1, 3)
    df = spark.createDataFrame([(1, bytearray(wav))], ["doc_id", "payload"])
    r = decode_audio_samples(df).collect()[0]
    assert r.peak == 32767 and r.n_at_peak == 2


def test_cross_lm_oov_and_scores(spark):
    """Cross-trained LM: train-side bigrams score high, unseen bigrams get
    the smoothing floor, oov_rate reports them; train docs never scored."""
    from odbc2parquet_spark.operators.text import bigram_lm_scores_cross

    train = spark.createDataFrame(
        [(100, "a b a b"), (101, "a b c")], ["doc_id", "text"]
    )
    score = spark.createDataFrame(
        [(1, "a b"), (2, "x y")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in bigram_lm_scores_cross(train, score).collect()}
    assert set(got) == {1, 2}
    # train corpus: bigrams (a,b)x3? no: "a b a b" -> (a,b),(b,a),(a,b); "a b c" -> (a,b),(b,c)
    # c(a,b)=3, ctx(a)=3, V=3 -> p = (2*3+1)/(2*3+3) = 7/9
    import math
    assert got[1].oov_rate == 0.0
    assert got[1].avg_logprob == round(round(math.log(7 / 9), 6), 6)
    # (x,y) unseen bigram AND unseen context -> p = 1/V = 1/3
    assert got[2].oov_rate == 1.0
    assert got[2].avg_logprob == round(math.log(1 / 3), 6)
