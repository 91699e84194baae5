"""Property-based tests (hypothesis) for the pure-Python spec surfaces:
the ?name? placeholder parser (reference src/execute.rs:64-109 semantics)
and the TIME text<->int converters (src/query/time.rs tiers)."""

import random
import string

import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from odbc2parquet_spark.params import to_positional

_name = st.text(alphabet=string.ascii_letters + "_", min_size=1, max_size=8)
_plain = st.text(
    alphabet=string.ascii_letters + string.digits + " ,=()<>'\n", max_size=20
)


pytestmark = pytest.mark.slow  # excluded from the default profile (pytest.ini)


@given(st.lists(st.tuples(_plain, _name), min_size=0, max_size=6), _plain)
@settings(max_examples=200, deadline=None)
def test_placeholder_parse_properties(parts, tail):
    stmt = "".join(p + f"?{n}?" for p, n in parts) + tail
    positional, names = to_positional(stmt)
    # one ? per placeholder, in order; names preserved with duplicates
    assert names == [n for _, n in parts]
    assert positional.count("?") == len(parts) + sum(p.count("?") for p, _ in parts) + tail.count("?")
    # non-placeholder text survives verbatim
    rebuilt = ""
    rest = positional
    for p, _ in parts:
        assert rest.startswith(p + "?"), (stmt, positional)
        rest = rest[len(p) + 1 :]
    assert rest == tail


@given(_plain)
@settings(max_examples=100, deadline=None)
def test_escaped_question_survives(plain):
    stmt = plain + r"\?" + plain
    positional, names = to_positional(stmt)
    assert names == []
    assert positional == plain + "?" + plain


def test_time_text_int_roundtrip_batch(spark):
    """500 seeded random times: format -> parse == arithmetic, all units."""
    from pyspark.sql import functions as F

    from odbc2parquet_spark.functions.timeutil import int_to_time_text, time_text_to_int

    rng = random.Random(42)
    rows = []
    for _ in range(500):
        h, m, s = rng.randrange(24), rng.randrange(60), rng.randrange(60)
        us = rng.randrange(1_000_000)
        total_us = ((h * 60 + m) * 60 + s) * 1_000_000 + us
        rows.append((f"{h:02d}:{m:02d}:{s:02d}.{us:06d}", total_us))
    df = spark.createDataFrame(rows, ["txt", "expect_us"])
    got = df.select(
        "txt",
        "expect_us",
        time_text_to_int(F.col("txt"), "us").alias("us"),
        time_text_to_int(F.col("txt"), "ms").alias("ms"),
        time_text_to_int(F.col("txt"), "ns").alias("ns"),
        int_to_time_text(time_text_to_int(F.col("txt"), "us")).alias("back"),
    ).collect()
    for r in got:
        assert r.us == r.expect_us
        assert r.ms == r.expect_us // 1000
        assert r.ns == r.expect_us * 1000
        assert r.back == r.txt


@given(
    st.lists(st.text(alphabet="abc", min_size=1, max_size=3), min_size=0, max_size=40),
    st.integers(min_value=2, max_value=8),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=20, deadline=None)
def test_chunking_covers_every_token(tokens, chunk, overlap):
    """Every token index lands in >= 1 chunk; consecutive chunks overlap by
    exactly `overlap` except at the tail; chunk sizes never exceed the cap.

    Pure-python mirror of the Catalyst expression in
    operators/text.chunk_documents (starts every chunk-overlap, slice of
    length chunk) — the Spark side is pinned by test_chunk_documents_windows;
    this pins the WINDOW ARITHMETIC itself over arbitrary inputs.
    """
    assume(overlap < chunk)
    step = chunk - overlap
    n = len(tokens)
    starts = list(range(0, n, step)) if n else []
    chunks = [tokens[s : s + chunk] for s in starts]
    covered = set()
    for s, c in zip(starts, chunks):
        assert len(c) <= chunk
        covered.update(range(s, s + len(c)))
    assert covered == set(range(n))
    for i in range(1, len(chunks)):
        if starts[i] + chunk <= n:
            assert starts[i] - starts[i - 1] == step


@given(
    st.binary(min_size=0, max_size=64),
    st.integers(min_value=1000, max_value=1_000_000),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=0, max_value=2000),
    st.sampled_from([8, 16, 24, 32]),
)
@settings(max_examples=200, deadline=None)
def test_wav_synth_parse_roundtrip(payload, rate, channels, n_samples, bits):
    from odbc2parquet_spark.operators.multimodal import parse_wav_header, synth_wav

    w = synth_wav(payload, rate, channels, n_samples, bits=bits)
    assert parse_wav_header(w) == (
        "wav", rate, channels, bits, n_samples, n_samples * 1000 // rate
    )


@given(
    st.binary(min_size=0, max_size=64),
    st.integers(min_value=1, max_value=200),
    st.integers(min_value=1, max_value=200),
)
@settings(max_examples=200, deadline=None)
def test_bmp_synth_parse_roundtrip(payload, width, height):
    from odbc2parquet_spark.operators.multimodal import parse_image_header, synth_bmp

    b = synth_bmp(payload, width, height)
    assert parse_image_header(b) == ("bmp", width, height, 3)


@given(st.binary(min_size=0, max_size=128))
@settings(max_examples=200, deadline=None)
def test_random_bytes_never_parse_as_wav(blob):
    """Random bytes essentially never carry a full RIFF/WAVE structure —
    the parser must reject, not fabricate metadata."""
    from odbc2parquet_spark.operators.multimodal import parse_wav_header

    assume(not (blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_wav_header(blob)


@given(
    st.binary(min_size=0, max_size=200),
    st.integers(min_value=100, max_value=100_000),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=100, deadline=None)
def test_mp4_synth_parse_roundtrip(payload, timescale, duration):
    from odbc2parquet_spark.operators.multimodal import parse_mp4_header, synth_mp4

    brand, ts, dur, n_top, mdat, ms = parse_mp4_header(
        synth_mp4(payload, timescale, duration)
    )
    assert (brand, ts, dur, n_top, mdat) == ("isom", timescale, duration, 3, len(payload))
    assert ms == duration * 1000 // timescale


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=100, deadline=None)
def test_random_bytes_never_parse_as_mp4(blob):
    from odbc2parquet_spark.operators.multimodal import parse_mp4_header

    # a random blob essentially never carries 'ftyp' at offset 4 AND a
    # consistent box chain; the parser must reject, not misread
    assume(blob[4:8] != b"ftyp")
    try:
        parse_mp4_header(blob)
        raise AssertionError("parsed garbage as MP4")
    except ValueError:
        pass


@given(
    st.binary(min_size=0, max_size=128),
    st.integers(min_value=100, max_value=100_000),
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=100, deadline=None)
def test_mp4_sample_table_roundtrip(payload, timescale, duration, n_samples):
    """The sample table must reassemble the cycled payload EXACTLY: every
    (offset, size) recovered from stsz/stco slices the mdat back into the
    bytes the encoder wrote, for any payload/sample-count combination."""
    from odbc2parquet_spark.operators.multimodal import (
        parse_mp4_header,
        parse_mp4_samples,
        synth_mp4_samples,
    )

    p = synth_mp4_samples(payload, timescale, duration, n_samples)
    samples = parse_mp4_samples(p)
    assert [s for _, s in samples] == [(i % 7) + 1 for i in range(n_samples)]
    total = sum(s for _, s in samples)
    src = payload if payload else b"\x00"
    expected = (src * (total // len(src) + 1))[:total]
    assert b"".join(p[o : o + s] for o, s in samples) == expected
    # the richer file still satisfies the plain header walk
    assert parse_mp4_header(p)[:3] == ("isom", timescale, duration)


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=100, deadline=None)
def test_random_bytes_never_yield_samples(blob):
    from odbc2parquet_spark.operators.multimodal import parse_mp4_samples

    assume(blob[4:8] != b"ftyp")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_mp4_samples(blob)


def test_sweep_line_matches_reference_batch(spark):
    """300 seeded random intervals: the distributed two-pass sweep equals
    a single-threaded reference sweep point-for-point (same tie rule:
    ends before starts), and the final running sum returns to zero."""
    from odbc2parquet_spark.operators.ranges import sweep_line_concurrency

    rng = random.Random(7)
    iv = []
    for _ in range(300):
        s = rng.randrange(0, 1000)
        iv.append((s, s + rng.randrange(1, 50)))
    df = spark.createDataFrame(iv, ["s", "e"])
    got = sorted(
        (r.t, r.delta, r.concurrency)
        for r in sweep_line_concurrency(df).collect()
    )
    pts = sorted([(s, 1) for s, _ in iv] + [(e, -1) for _, e in iv])
    run, expect = 0, []
    for t, d in pts:
        run += d
        expect.append((t, d, run))
    assert got == sorted(expect)
    assert run == 0


def test_tree_ancestry_matches_reference_batch(spark):
    """400-node seeded random forest: pointer doubling agrees with a
    single-threaded parent chase for every node."""
    from odbc2parquet_spark.operators.graph import tree_ancestry

    rng = random.Random(11)
    parent = {0: 0, 1: 1}
    for n in range(2, 400):
        parent[n] = n if rng.random() < 0.02 else rng.randrange(0, n)
    df = spark.createDataFrame(sorted(parent.items()), ["node", "parent"])
    got = {r.node: (r.root_key, r.depth) for r in tree_ancestry(df).collect()}

    def chase(n):
        d = 0
        while parent[n] != n:
            n = parent[n]
            d += 1
        return n, d

    assert got == {n: chase(n) for n in parent}


def test_km_hazard_matches_reference_batch(spark):
    """500 seeded random subjects: the life table equals the
    single-threaded reference (at-risk convention: censored-at-t counts
    in n_risk(t); censor-only durations emit no row)."""
    from collections import Counter

    from odbc2parquet_spark.operators.survival import km_hazard_table

    rng = random.Random(3)
    subj = [(rng.randrange(0, 30), rng.random() < 0.6) for _ in range(500)]
    df = spark.createDataFrame(subj, ["t_obs", "converted"])
    got = {r.t: (r.n_risk, r.n_events, r.hazard) for r in km_hazard_table(df).collect()}

    all_t = Counter(t for t, _ in subj)
    ev_t = Counter(t for t, c in subj if c)
    expect = {}
    for t, d in sorted(ev_t.items()):
        n_risk = sum(n for tt, n in all_t.items() if tt >= t)
        expect[t] = (n_risk, d, round(d / n_risk, 6))
    assert got == expect


def test_linear_attribution_conservation_batch(spark):
    """Seeded random event streams: every surviving conversion's credits
    sum to its value (within decimal(25,12) rounding) and no credit ever
    references an out-of-window or other-user touch."""
    import datetime as dt
    from decimal import Decimal

    from odbc2parquet_spark.operators.attribution import linear_attribution

    rng = random.Random(19)
    t0 = dt.datetime(2024, 3, 1)
    conv_rows, touch_rows = [], []
    for cid in range(60):
        uid = rng.randrange(8)
        conv_rows.append(
            (uid, cid, t0 + dt.timedelta(hours=rng.randrange(0, 720)),
             round(rng.uniform(1, 50), 2))
        )
    for _ in range(400):
        uid = rng.randrange(8)
        touch_rows.append(
            (uid, t0 + dt.timedelta(hours=rng.randrange(-24, 720)),
             rng.choice(["click", "view"]))
        )
    conv = spark.createDataFrame(conv_rows, ["user_id", "conv_id", "ts", "value"])
    tch = spark.createDataFrame(touch_rows, ["user_id", "ts", "channel"])
    rows = linear_attribution(conv, tch).collect()
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append(r)
    conv_map = {c: (u, ts, v) for u, c, ts, v in conv_rows}
    for cid, rs in by_conv.items():
        uid, cts, val = conv_map[cid]
        total = sum(r.credit for r in rs)
        assert abs(total - Decimal(str(val))) < Decimal("0.000001")
        n_expected = sum(
            1 for (u, ts, _) in touch_rows
            if u == uid and ts <= cts and ts >= cts - dt.timedelta(days=7)
        )
        assert sum(r.n_channel for r in rs) == n_expected > 0
    # conversions absent from the output truly had zero in-window touches
    for cid, (uid, cts, _) in conv_map.items():
        if cid not in by_conv:
            assert not any(
                u == uid and ts <= cts and ts >= cts - dt.timedelta(days=7)
                for (u, ts, _) in touch_rows
            )


def test_skyline_matches_reference_batch(spark):
    """Seeded random point sets (with heavy ties and degenerate shapes):
    the two-pass distributed skyline equals the quadratic dominance spec."""
    from odbc2parquet_spark.operators.skyline import skyline_2d

    rng = random.Random(99)
    for trial, (nx, ny, n) in enumerate(
        [(5, 5, 120), (1000, 3, 150), (2, 1000, 150), (50, 50, 300)]
    ):
        pts = [(rng.randrange(nx), rng.randrange(ny)) for _ in range(n)]
        df = spark.createDataFrame(pts, "p_retailprice int, p_size int")
        got = sorted((r.p_retailprice, r.p_size) for r in skyline_2d(df).collect())
        want = sorted(
            (x, y)
            for x, y in pts
            if not any(
                qx <= x and qy >= y and (qx < x or qy > y) for qx, qy in pts
            )
        )
        assert got == want, f"trial {trial}"


def test_seasonal_decompose_identity_batch(spark):
    """Random daily series: output rows satisfy val ≈ trend + seasonal +
    resid (to rounding), trend is the exact centered mean, and per-phase
    residual means vanish (the defining property of the phase index)."""
    from pyspark.sql import functions as F

    from odbc2parquet_spark.operators.drift import seasonal_decompose

    rng = random.Random(7)
    values = [round(rng.uniform(-50, 50), 3) for _ in range(40)]
    daily = spark.createDataFrame(
        [(d, v) for d, v in enumerate(values)], "day long, v double"
    ).select("day", F.col("v").cast("decimal(18,6)").alias("val_dec"))
    rows = seasonal_decompose(daily).collect()
    assert len(rows) == 34
    for r in rows:
        assert abs(r.val - (r.trend + r.seasonal + r.resid)) < 5e-6
        want_trend = sum(values[r.day - 3 : r.day + 4]) / 7
        assert abs(r.trend - want_trend) < 1e-6
    # residuals average ~0 within each phase (resid = detrended - phase mean)
    by_phase: dict[int, list[float]] = {}
    for r in rows:
        by_phase.setdefault(r.day % 7, []).append(r.resid)
    for phase, rs in by_phase.items():
        assert abs(sum(rs) / len(rs)) < 5e-6, phase


def test_kth_selection_matches_sort_batch(spark):
    """Seeded random value sets (ties, negatives, denormal-ish spreads,
    single-value degenerate): distributed quickselect equals the local
    sort at every probed rank."""
    from odbc2parquet_spark.operators.selection import kth_smallest

    rng = random.Random(31)
    cases = [
        [rng.uniform(-1e9, 1e9) for _ in range(777)],
        [rng.choice([1.5, 2.5, 3.5]) for _ in range(500)],   # heavy ties
        [7.25] * 400,                                         # one value
        [rng.uniform(0, 1e-12) for _ in range(300)] + [1e12], # extreme spread
    ]
    for trial, vals in enumerate(cases):
        df = spark.createDataFrame([(v,) for v in vals], ["l_extendedprice"]).repartition(7)
        s = sorted(vals)
        n = len(vals)
        for k in {1, 2, n // 3, n // 2, n - 1, n}:
            got = kth_smallest(df, k)
            assert got == s[k - 1], (trial, k)


def test_prefix_jaccard_matches_all_pairs_batch(spark):
    """Seeded random shingle universes: prefix+positional filtering emits
    EXACTLY the pairs the quadratic spec admits at the threshold —
    recall 1.0 and no extras, across sparse and dup-heavy regimes."""
    from odbc2parquet_spark.operators.dedup import prefix_jaccard_pairs

    rng = random.Random(17)
    for trial, (n_docs, vocab, lo, hi) in enumerate(
        [(40, 30, 3, 10), (25, 8, 2, 6), (30, 100, 5, 12)]
    ):
        docsets = []
        for i in range(n_docs):
            sz = rng.randint(lo, hi)
            docsets.append((i, sorted(rng.sample(range(vocab), min(sz, vocab)))))
        # clone a few docs to force exact duplicates
        docsets += [(1000 + i, ds) for i, (_, ds) in enumerate(docsets[:3])]
        rows = [(i, f"tok{t}") for i, ds in docsets for t in ds]
        sh = spark.createDataFrame(rows, ["id", "g"])
        got = {
            (r.id_a, r.id_b, r.n_inter)
            for r in prefix_jaccard_pairs(sh, threshold=0.6).collect()
        }
        want = set()
        sets = {i: set(ds) for i, ds in docsets}
        ids = sorted(sets)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and round(inter / union, 6) >= 0.6:
                    want.add((a, b, inter))
        assert got == want, f"trial {trial}"


def test_gopher_rules_matches_reference_batch(spark):
    """300 seeded random docs (stopwords, bullets, '#', '...', newlines
    mixed in): every flag matches a pure-Python evaluation of the same
    cross-multiplied integer rules."""
    import hashlib

    from odbc2parquet_spark.operators.text import gopher_rules

    rng = random.Random(7)
    vocab = ["alpha", "bravo", "x", "##", "the", "a", "1234", "word...", "-"]
    docs = []
    for i in range(300):
        n = rng.randrange(1, 120)
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        text = " ".join(toks)
        if rng.random() < 0.3:  # some multi-line docs with bullet lines
            text = text + "\n- bullet tail\nplain line..."
        docs.append((i, text))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: r for r in gopher_rules(df).collect()}

    for i, text in docs:
        ws = [w for w in text.split(" ") if w != ""]
        lines = text.split("\n")
        n_words = len(ws)
        sum_len = sum(len(w) for w in ws)
        n_hash = text.count("#")
        ell3 = len(text) - len(text.replace("...", ""))
        n_lines = len(lines)
        n_bullet = sum(1 for l in lines if l.startswith(("- ", "* ")))
        n_ell_lines = sum(1 for l in lines if l.endswith("..."))
        n_alpha = sum(1 for w in ws if any(c.isalpha() and c.isascii() for c in w))
        n_stop = sum(1 for s in ("the", "a") if s in ws)
        r = got[i]
        assert r.ok_word_count == int(50 <= n_words <= 100000), i
        assert r.ok_mean_word_len == int(3 * n_words <= sum_len <= 10 * n_words), i
        assert r.ok_symbol_ratio == int(10 * (3 * n_hash + ell3) < 3 * n_words), i
        assert r.ok_bullet == int(10 * n_bullet < 9 * n_lines), i
        assert r.ok_ellipsis == int(10 * n_ell_lines < 3 * n_lines), i
        assert r.ok_alpha == int(5 * n_alpha >= 4 * n_words), i
        assert r.ok_stopwords == int(n_stop >= 2), i


def test_bigram_lms_match_reference_batch(spark):
    """Seeded random corpus: both LM scorers (add-0.5 and Kneser-Ney)
    match a pure-Python reference that replicates the exact pipeline
    (integer ratios -> one ln -> round 6 -> exact decimal sum -> one
    division -> round 6). Tolerance covers a possible 1-ulp ln
    disagreement at a rounding boundary."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    import math as _math

    from odbc2parquet_spark.operators.text import (
        bigram_lm_scores,
        kneser_ney_scores,
    )

    rng = random.Random(13)
    vocab = [f"w{j}" for j in range(12)]
    docs = [
        (i, " ".join(vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(2, 40))))
        for i in range(120)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got_lm = {r.doc_id: r for r in bigram_lm_scores(df).collect()}
    got_kn = {r.doc_id: r for r in kneser_ney_scores(df).collect()}

    bgs: dict[int, list[tuple[str, str]]] = {}
    cab: Counter = Counter()
    for i, text in docs:
        ws = [w for w in text.split(" ") if w != ""]
        bgs[i] = list(zip(ws, ws[1:]))
        for p in bgs[i]:
            cab[p] += 1
    ctx: Counter = Counter()
    n1a: defaultdict = defaultdict(set)
    n1b: defaultdict = defaultdict(set)
    for (x, y), c in cab.items():
        ctx[x] += c
        n1a[x].add(y)
        n1b[y].add(x)
    t = len(cab)
    v = len({w for _, text in docs for w in text.split(" ") if w != ""})

    for i, _ in docs:
        if not bgs[i]:
            assert i not in got_lm
            continue
        s_lm = sum(
            Decimal(str(round(_math.log((2 * cab[p] + 1) / (2 * ctx[p[0]] + v)), 6)))
            for p in bgs[i]
        )
        s_kn = sum(
            Decimal(
                str(
                    round(
                        _math.log(
                            ((4 * cab[p] - 3) * t + 3 * len(n1a[p[0]]) * len(n1b[p[1]]))
                            / (4 * t * ctx[p[0]])
                        ),
                        6,
                    )
                )
            )
            for p in bgs[i]
        )
        n = len(bgs[i])
        assert got_lm[i].avg_logprob == pytest.approx(
            round(float(s_lm) / n, 6), abs=5e-6
        ), i
        assert got_kn[i].avg_logprob_kn == pytest.approx(
            round(float(s_kn) / n, 6), abs=5e-6
        ), i


def test_cdc_chunks_reconstruct_batch(spark):
    """Seeded random docs: per doc, the CDC chunks in chunk order
    reconstruct the exact token sequence, and every internal chunk ends
    at (and only at) an md5 % 16 == 0 boundary token."""
    import hashlib

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from odbc2parquet_spark.operators.text import words

    rng = random.Random(21)
    vocab = [f"t{j}" for j in range(40)]
    docs = [
        (i, " ".join(vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(1, 80))))
        for i in range(80)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    tok = df.select(
        "doc_id", F.posexplode(words(F.col("text"))).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    bd = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long") % 16 == 0
    ).cast("long")
    win = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ch = (
        tok.withColumn("chunk_id", F.coalesce(F.sum(bd).over(win), F.lit(0)))
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s.getField("w"),
                ),
            ).alias("chunk_text")
        )
        .collect()
    )

    def is_boundary(w: str) -> bool:
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % 16 == 0

    by_doc: dict[int, dict[int, str]] = {}
    for r in ch:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text
    for i, text in docs:
        ws = [w for w in text.split(" ") if w != ""]
        chunks = [by_doc[i][k] for k in sorted(by_doc[i])]
        assert " ".join(chunks) == " ".join(ws), i
        # every chunk except possibly the last ends on a boundary token;
        # no chunk contains an internal boundary token
        for j, c in enumerate(chunks):
            toks = c.split(" ")
            for w in toks[:-1]:
                assert not is_boundary(w), (i, j, w)
            if j < len(chunks) - 1:
                assert is_boundary(toks[-1]), (i, j)


def test_neg_sample_apportionment_bounds(spark):
    """Seeded random corpus: the negative-sampling table apportions the
    EXACT slot count, and every word's draws are within 1 of its real
    quota T * w / W (the largest-remainder guarantee)."""
    from odbc2parquet_spark.operators.text import neg_sample_table

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(30):
        n = rng.randint(5, 60)
        rows.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = neg_sample_table(docs).collect()
    assert sum(r["n_draws"] for r in out) == 1000
    total_micro = None
    # recompute quotas from the emitted micro-weights (w_micro is part of
    # the output contract)
    micros = {r["w"]: r["w_micro"] for r in out}
    # words with n_draws == 0 are filtered; their quota must be < 1, so
    # the emitted ones carry (almost) the whole weight — bound each
    # emitted word against its quota over the EMITTED total, a slightly
    # looser but deterministic check
    total_micro = sum(micros.values())
    for r in out:
        quota = 1000 * r["w_micro"] / total_micro
        assert quota - 1.5 <= r["n_draws"] <= quota + 1.5


def test_ivf_silhouette_partition_and_range(spark):
    """Seeded random embeddings: silhouette cells partition the corpus
    (n_vecs sums to N) and every mean silhouette lies in [0, 1]."""
    from odbc2parquet_spark.operators.similarity import (
        ivf_seed_centroids,
        ivf_silhouette,
    )

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = ivf_silhouette(emb, ivf_seed_centroids(emb)).collect()
    assert sum(r["n_vecs"] for r in out) == 120
    assert all(0.0 <= r["mean_sil"] <= 1.0 for r in out)
