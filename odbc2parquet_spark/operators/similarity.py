"""Embedding similarity search: brute-force baseline + LSH scale path.

The embedding column is ``array<float>``; all arithmetic is element-cast to
double and folded with built-in higher-order functions (zip_with/aggregate)
— JVM-side, no Python in the hot path.

Scale notes:
- Brute-force top-k is a cross join: correct baseline, O(Q x N). Fine when
  Q is small (a probe set) or N fits a broadcast; it broadcasts the query
  side so the corpus never shuffles.
- Random-hyperplane LSH assigns each vector a b-bit signature in one
  narrow projection pass (no shuffle at all); pairing within buckets
  (capped_bucket_pairs) replaces the cross join. Hyperplanes are
  md5-derived constants — deterministic across runs and engines.
- Exact-cosine outputs are rounded to 4 decimals before ranking/filtering
  so independent engines (different summation order, same values) agree.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

#: embedding width every vector operator here expects
DIM = 64
#: hyperplanes of the LSH graph signatures (knn_graph, the graph queries)
N_PLANES = 16
#: IVF: seed cells, and the cells each query probes
K_CELLS = 16
NPROBE = 4
#: PQ operating point, chosen by a measured recall sweep at sf0.1 (round
#: 7): 32 subspaces of 2 dims with 256 deterministic seed codewords. m=8/k=16
#: scored recall@10 = 0.20-0.30 — unusable; m=32/k=256 scores 0.72 seeded
#: and ~0.8 Lloyd-refined, with the IVF cell-routing ceiling measured at
#: 0.99 (nprobe=4), so code distortion is the only recall lever that
#: matters here. 2-dim subspaces keep numpy's distance sums sequential
#: (pairwise summation only reassociates from 8 terms), which the
#: cross-engine bit-exactness contract needs.
PQ_M = 32
PQ_SUB = DIM // PQ_M
PQ_K = 256


def _fold_sum(arr: F.Column) -> F.Column:
    """Left-fold sum of a double array (deterministic order) as one
    Catalyst ``aggregate``.

    Measured at sf0.1 (round 11): a literal chain of per-index additions
    EXECUTES ~3x faster (higher-order functions are CodegenFallback,
    interpreted per element with boxing), but its 64-term tree costs ~1s
    of driver-side analysis/optimization per action where this form
    costs ~0.2s (ivf_assign's corpus x 16 scoring: 0.5s here vs 1.1s
    unrolled, all of it planning)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Dot product (see :func:`_fold_sum`)."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm_sq(a: F.Column) -> F.Column:
    """Squared L2 norm (see :func:`_fold_sum`)."""
    return _fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double")))


def dot_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot` over the SQL list expressions ``a``, ``b``."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )


def norm_sq_sql(a: str) -> str:
    """DuckDB twin of :func:`norm_sq` over the SQL list expression ``a``."""
    return f"list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return dot(a, b) / F.sqrt(norm_sq(a) * norm_sq(b))


def _checked_dim(vec: F.Column, where: str) -> F.Column:
    """Fail LOUDLY when the embedding width is not ``DIM``: a
    zip_with against a wrong-width plane pads with NULLs, the fold goes
    NULL, and every signature silently collapses to 0 (one mega-bucket
    the cap then drops — zero candidates, no error). Codegen'd
    comparison; free when widths match."""
    return F.when(
        F.size(vec) != DIM,
        F.raise_error(
            F.concat(
                F.lit(f"{where}: embedding length "),
                F.size(vec).cast("string"),
                F.lit(f" != dim={DIM}"),
            )
        ),
    ).otherwise(vec)


def _cosine_rank(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cos4) -> the ranked cosine top-k frame. One
    definition of the output contract (desc-cosine/asc-id tiebreak, column
    names) shared by exact and IVF search, as :func:`_adc_rank` is for ADC."""
    w = W.partitionBy("query_id").orderBy(F.desc("cos4"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            # + 0.0 pins IEEE signed zero (see knn_graph)
            (F.col("cos4") + F.lit(0.0)).alias("cosine4"),
            "rank",
        )
    )


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k per query vector.

    Broadcasts the (small) query side; corpus partitioning untouched —
    at 100 TB the corpus streams through map tasks, each scoring against
    the in-memory probe set, then a per-query top-k (window over rounded
    cosine with id tiebreak for determinism). Norms are computed once per
    row BEFORE the cross-scoring, so each pair costs one fold (the dot),
    not three.
    """
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            norm_sq(F.col("embedding")).alias("qnsq"),
        )
    )
    v = vectors.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nvec"),
        norm_sq(F.col("embedding")).alias("nnsq"),
    )
    scored = (
        v.join(q, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos4",
            F.round(
                dot(F.col("qvec"), F.col("nvec"))
                / F.sqrt(F.col("qnsq") * F.col("nnsq")),
                4,
            ),
        )
        .select("query_id", "neighbor_id", "cos4")
    )
    return _cosine_rank(scored, k)


def hyperplanes(n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1).

    Components derive from md5(f"{plane}:{d}") for d < ``DIM`` —
    reproducible anywhere
    (the DuckDB oracle embeds the same literals).
    """
    planes = []
    for j in range(n_planes):
        row = []
        for d in range(DIM):
            h = int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:8], 16)
            row.append(h / float(2**31) - 1.0)
        planes.append(row)
    return planes


def lsh_signatures(vectors: DataFrame, n_planes: int) -> DataFrame:
    """b-bit random-hyperplane signature per vector: (vec_id, sig).

    One narrow projection pass, no shuffle; signatures feed the bucket
    pairing of :func:`capped_bucket_pairs` in place of a cross join.
    """
    planes = hyperplanes(n_planes)
    # One packed plane-matrix literal + a single indexed transform: the
    # projection is ONE expression (a loop over planes in codegen) instead
    # of n_planes unrolled aggregate folds — same signatures (bit j set
    # iff dot(v, plane_j) > 0), ~n_planes-times smaller expression tree.
    mat = F.array(*[F.array(*[F.lit(x) for x in plane]) for plane in planes])
    vec = _checked_dim(F.col("embedding"), "lsh_signatures")
    bits = F.transform(
        mat,
        lambda plane, j: F.when(
            dot(vec, plane) > 0, F.pow(F.lit(2.0), j.cast("double"))
        ).otherwise(F.lit(0.0)),
    )
    sig = _fold_sum(bits).cast("long")
    # (round-12 A/B: routing `vectors` through catalog.spread_scan here
    # measured a wash-to-slightly-worse on the composed consumers —
    # sim_lsh_bucket_pairs 1.28->1.39 — the projection is cheap enough
    # that the extra exchange is not repaid; left on the natural layout)
    return vectors.select(F.col("vec_id"), sig.alias("sig"))


def cap_buckets(bucketed: DataFrame, bucket_cols: list[str], max_bucket: int) -> DataFrame:
    """Drop every bucket (one ``bucket_cols`` value) of more than
    ``max_bucket`` rows, by a window count: a hot bucket spills in
    WindowExec, and the rows keep the bucket partitioning."""
    w = W.partitionBy(*bucket_cols)
    return (
        bucketed.withColumn("_bn_", F.count("*").over(w))
        .filter(F.col("_bn_") <= max_bucket)
        .drop("_bn_")
    )


def capped_bucket_pairs(
    bucketed: DataFrame,
    bucket_cols: list[str],
    max_bucket: int,
    directed: bool = False,
    keep_bucket: bool = False,
    dedupe: bool = False,
) -> DataFrame:
    """THE single-shuffle capped bucket-to-pairs expansion behind every
    LSH and banding candidate generator (tests/test_plans.py pins its plan
    shape): one shuffle on ``bucket_cols``, :func:`cap_buckets` drops
    buckets above ``max_bucket`` (a hot bucket would go quadratic inside
    one task), then collect_list + double-explode expands pairs locally
    on the SAME partitioning. ``directed`` emits both orientations;
    ``dedupe`` collapses pairs that met in several buckets.

    ``bucketed`` must be (vec_id, *bucket_cols). ``vec_id`` may be a
    struct led by the id: pairs are ordered by it and carry the other
    fields, so a verify step needs no join back.
    """
    capped = cap_buckets(bucketed, bucket_cols, max_bucket)
    buckets = capped.groupBy(*bucket_cols).agg(F.collect_list("vec_id").alias("ids"))
    a, b = F.col("id_a"), F.col("id_b")
    out = (
        buckets.filter(F.size("ids") >= 2)
        .select(*bucket_cols, F.explode("ids").alias("id_a"), "ids")
        .select(*bucket_cols, "id_a", F.explode("ids").alias("id_b"))
        .filter(a != b if directed else a < b)
        .select("id_a", "id_b", *(bucket_cols if keep_bucket else []))
    )
    return out.distinct() if dedupe else out


def bit_slices(col: F.Column, bands: int, band_bits: int) -> list[F.Column]:
    """The ``bands`` contiguous ``band_bits``-bit slices of integer
    ``col``, lowest bits first: the band keys of a bit signature."""
    mask = F.lit((1 << band_bits) - 1)
    return [F.shiftright(col, b * band_bits).bitwiseAND(mask) for b in range(bands)]


def band_melt(
    frame: DataFrame, vec_id: F.Column, keys: list[F.Column] | dict[str, list[F.Column]]
) -> DataFrame:
    """THE banding step: one (vec_id, band, key) row per expression in
    ``keys`` (band = its index) from ONE explode, which evaluates
    ``frame`` once where a per-band union would evaluate it per band. A
    dict of banding name -> keys melts several bandings at once, the
    name in a leading ``cfg`` column."""
    multi = isinstance(keys, dict)
    entries = [
        F.struct(
            *([F.lit(cfg).alias("cfg")] if multi else []), F.lit(b).alias("band"), k.alias("key")
        )
        for cfg, band_keys in (keys.items() if multi else [(None, keys)])
        for b, k in enumerate(band_keys)
    ]
    cols = ["cfg", "band", "key"] if multi else ["band", "key"]
    melted = frame.select(vec_id.alias("vec_id"), F.explode(F.array(*entries)).alias("bk"))
    return melted.select("vec_id", *[F.col(f"bk.{c}").alias(c) for c in cols])


def banded_hamming_pairs(
    frame: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    band_bits: int,
    max_hamming: int,
    max_bucket: int,
) -> DataFrame:
    """(id_a, id_b, hamming): pairs whose integer signatures agree on at
    least one of ``bands`` :func:`bit_slices` and differ in at most
    ``max_hamming`` bits. Pairs carry both signatures out of
    :func:`capped_bucket_pairs`, so the hamming filter is a narrow map
    ahead of the distinct. A NULL signature pairs with nothing."""
    melted = band_melt(
        frame.filter(F.col(sig_col).isNotNull()),
        F.struct(id_col, sig_col),
        bit_slices(F.col(sig_col), bands, band_bits),
    )
    a, b = F.col("id_a"), F.col("id_b")
    return (
        capped_bucket_pairs(melted, ["band", "key"], max_bucket)
        .withColumn("hamming", F.bit_count(a[sig_col].bitwiseXOR(b[sig_col])))
        .filter(F.col("hamming") <= max_hamming)
        .select(a[id_col].alias("id_a"), b[id_col].alias("id_b"), "hamming")
        .distinct()
    )


def derived_prefix_bits(n_vectors: int, target_occupancy: int = 64, max_bits: int = 24) -> int:
    """Occupancy-scaled LSH bucket width: hold expected per-bucket
    occupancy constant as the corpus grows (buckets ~ n / target_occupancy,
    so prefix_bits = ceil(log2(n / target_occupancy)), clamped).

    This is the scaling rule SCALE.md measured at the amplified-sf10
    decade (200k vectors): a FIXED prefix_bits=8 (256 buckets) lets
    occupancy rise linearly with the corpus and the candidate-pair list
    quadratically with occupancy (92.9M edges, 51s edge build at sf10);
    deriving the width from the corpus restores linear edge growth
    (prefix_bits=12 -> 7.3M edges / 12.9s; 16 -> 0.6M / near-linear vs
    sf0.1). Exactly like an IVF deployment scales k_cells, a 100 TB
    deployment sets the bucket count from a cheap corpus count before
    building the graph — this function is that rule as code.

    The formula is one double-precision ceil(log2(n / occ)) so external
    engines (the DuckDB oracles) reproduce the derived value bit-for-bit
    from the same COUNT(*). Callers must give the signature at least
    ``max_bits`` planes (cap ``max_bits`` at their n_planes).
    """
    import math

    if n_vectors < 0:
        raise ValueError(f"n_vectors must be >= 0, got {n_vectors}")
    if target_occupancy <= 0:
        raise ValueError(f"target_occupancy must be > 0, got {target_occupancy}")
    if n_vectors == 0:
        return 4
    raw = math.ceil(math.log2(n_vectors / float(target_occupancy)))
    return min(max_bits, max(4, raw))


def lsh_bucket_pairs(
    signatures: DataFrame,
    max_bucket: int = 100_000,
    directed: bool = False,
    target_occupancy: int | None = None,
    n_vectors: int | None = None,
    max_prefix_bits: int = 24,
) -> DataFrame:
    """Candidate pairs sharing a signature prefix bucket (8 bits unless
    ``target_occupancy`` derives the width), from
    :func:`capped_bucket_pairs` (one hot bucket — e.g. the all-zeros
    signature region of a clustered corpus — is dropped by the
    ``max_bucket`` cap).

    ``directed=True`` emits BOTH orientations of every pair in the same
    bucket pass (for per-node neighbor lists, e.g. :func:`knn_graph`) —
    cheaper than unioning a flipped copy, which would re-run the whole
    bucket expansion.
    """
    prefix_bits = 8
    if target_occupancy is not None:
        # occupancy-scaled width: the bucket count follows the corpus size
        # (a known n_vectors avoids the count job); max_prefix_bits caps it
        # at the signature's plane count, beyond which buckets would alias
        n = n_vectors if n_vectors is not None else signatures.count()
        prefix_bits = derived_prefix_bits(n, target_occupancy, max_bits=max_prefix_bits)
    mask = (1 << prefix_bits) - 1
    bucketed = signatures.select("vec_id", F.col("sig").bitwiseAND(F.lit(mask)).alias("bucket"))
    return capped_bucket_pairs(bucketed, ["bucket"], max_bucket, directed=directed, keep_bucket=True)


# ------------------------------------------------------------------ IVF
#
# Inverted-file index: partition the corpus into cells around coarse
# centroids; a query scores only the vectors in its ``nprobe`` nearest
# cells. At 100 TB the assignment is one broadcast-map pass (centroids are
# tiny), the cell layout is a disk partitioning (write the corpus
# partitioned by centroid_id -> partition pruning serves each probe), and
# search touches nprobe/k_cells of the data instead of all of it.


def ivf_seed_centroids(vectors: DataFrame) -> DataFrame:
    """Deterministic seed centroids: the ``K_CELLS`` lowest-id vectors.

    No RNG so any engine reproduces the index bit-for-bit; refine with
    :func:`ivf_refine_centroids` (Lloyd steps) when quality matters more
    than reproducibility.
    """
    return vectors.orderBy("vec_id").limit(K_CELLS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )


def _centroid_scores(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Every (vector, centroid) pair with its 4-decimal cosine ``cos4``:
    centroids broadcast, norms computed once per row before the cross so
    each pair costs one fold."""
    c = F.broadcast(centroids.withColumn("csq", norm_sq(F.col("centroid"))))
    return vectors.select(
        "vec_id",
        F.col("embedding").alias("v"),
        norm_sq(F.col("embedding")).alias("vsq"),
    ).join(c).withColumn(
        "cos4",
        F.round(
            dot(F.col("v"), F.col("centroid")) / F.sqrt(F.col("vsq") * F.col("csq")), 4
        ),
    )


def _packed_cos() -> F.Column:
    """(10000 - cos4*10^4) << 43 | centroid_id: a long whose min picks the
    best cosine, ties to the lowest centroid id. cos4*10^4 is within 1 ulp
    of an integer (4-decimal quantized), so round-to-0-decimals + long
    cast recovers it exactly."""
    ncos_scaled = F.lit(10000) - F.round(F.col("cos4") * 10000, 0).cast("long")
    return ncos_scaled * F.lit(1 << 43) + F.col("centroid_id").cast("long")


def _unpacked_cos(enc: str) -> F.Column:
    """The cos4 of a :func:`_packed_cos` value."""
    return (F.lit(10000) - F.shiftright(F.col(enc), 43)).cast("double") / F.lit(10000.0)


def ivf_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, cos4): each vector's nearest centroid.

    Broadcast the centroids (tiny) against the corpus — a map-side join,
    the corpus never shuffles its vectors; the argmax is a groupBy min
    over a PACKED long ((10000 - cos4*10^4) << 43 | centroid_id) —
    lexicographically identical to the (-cos4, centroid_id) struct-min
    it replaces (cos4 is 4-decimal quantized, so the integer scaling is
    exact and order-preserving), but a primitive min HASH-aggregates
    with map-side partials where a struct-min forces a SortAggregate
    over the corpus x k_cells candidate rows. raise_error guards pin
    the centroid_id < 2^43 packing bound. Norms computed once per row
    before the cross: one fold per pair.
    """
    scored = _centroid_scores(vectors, centroids)
    enc = F.when(
        (F.col("centroid_id") < 0) | (F.col("centroid_id") >= F.lit(1 << 43)),
        F.expr(
            "raise_error('ivf_assign: centroid_id outside the packing bound')"
        ).cast("long"),
    ).otherwise(_packed_cos())
    return (
        scored.groupBy("vec_id")
        .agg(F.min(enc).alias("best_enc"))
        .select(
            "vec_id",
            (F.col("best_enc") % F.lit(1 << 43)).alias("centroid_id"),
            _unpacked_cos("best_enc").alias("cos4"),
        )
    )


def ivf_silhouette(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-cell simplified silhouette over an IVF index — the clustering
    QA gate: how well-separated each cell is, from centroid distances
    only (Hruschka et al.'s simplified silhouette — O(N x k_cells), no
    pairwise pass). Per vector, with cosine distance to the nearest
    centroid a = 1 - cos_own and to the runner-up b = 1 - cos_next:
    s = (b - a) / max(a, b) = (cos_own - cos_next) / (1 - cos_next),
    in [0, 1) — 0 on the cell boundary, ->1 deep inside the cell. A cell
    whose mean silhouette collapses toward 0 is not separating its
    vectors and needs a re-seed/Lloyd pass (the signal sim_centroid_shift
    then quantifies).

    Determinism: distances reuse ivf_assign's 4-decimal quantized cos
    and its packed-long ordering ((10000 - cos4*10^4) << 43 |
    centroid_id), so best/runner-up are the same tie-broken pair on any
    engine; per-vector s rounds to 6 then decimal-sums per cell. Scale
    shape: centroids broadcast, corpus never shuffles its vectors — two
    hash-aggregations over the N x k scored rows (best enc, then min enc
    above best), both map-side partial; no sort, no window over the
    corpus."""
    scored = _centroid_scores(vectors, centroids)
    from odbc2parquet_spark import cachereg

    encs = cachereg.track(scored.select("vec_id", _packed_cos().alias("enc")).persist())
    best = encs.groupBy("vec_id").agg(F.min("enc").alias("e1"))
    second = (
        encs.join(best, "vec_id")
        .filter(F.col("enc") > F.col("e1"))
        .groupBy("vec_id")
        .agg(F.min("enc").alias("e2"), F.min("e1").alias("e1"))
    )
    own, nxt = _unpacked_cos("e1"), _unpacked_cos("e2")
    sil = second.select(
        "vec_id",
        (F.col("e1") % F.lit(1 << 43)).alias("centroid_id"),
        F.when(nxt < 1.0, F.round((own - nxt) / (F.lit(1.0) - nxt), 6))
        .otherwise(F.lit(0.0))
        .cast("decimal(18,6)")
        .alias("s"),
    )
    return sil.groupBy("centroid_id").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.sum("s").cast("double") / F.count("*"), 6).alias("mean_sil"),
    )


def ivf_refine_centroids(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd refinement step: the mean of the vectors assigned to each
    cell. One broadcast assign + one posexplode/groupBy mean (shuffle
    keyed on (centroid, dim) — k_cells*dim groups, tiny).

    The per-cell mean follows the module's determinism contract — exact
    DECIMAL sums (order-independent), ONE final division rounded to 6 —
    by delegating to :func:`label_centroids`, the same step the
    oracle-gated sim_ivf_refine query certifies; a raw float ``avg``
    here would make the refined index depend on shuffle merge order."""
    assigned = ivf_assign(vectors, centroids).join(
        vectors.select("vec_id", F.col("embedding").alias("v")), "vec_id"
    )
    return assemble_centroids(
        label_centroids(assigned, label_col="centroid_id", vec_col="v")
    ).select(
        F.col("label").alias("centroid_id"),
        F.transform(F.col("centroid"), lambda x: x.cast("float")).alias("centroid"),
    )


def ivf_search(vectors: DataFrame, queries: DataFrame, centroids: DataFrame) -> DataFrame:
    """Approximate top-10: score each query against its ``NPROBE`` nearest
    cells only.

    Plan shape at scale: corpus->cell assignment is the (cachable /
    disk-partitionable) index; probes (queries x nprobe, small) broadcast
    against it, so the only corpus-sized operation is one semi-join-like
    broadcast filter + per-query top-k window.
    """
    assign = ivf_assign(vectors, centroids).select(
        F.col("vec_id").alias("neighbor_id"), "centroid_id"
    )
    qprobe = (
        ivf_probe_cells(queries, centroids, NPROBE)
        .select("query_id", "centroid_id")
    )
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    v = vectors.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nvec"))
    cand = (
        assign.join(F.broadcast(qprobe), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    # the corpus-side vector fetch streams v map-side against BROADCAST
    # candidate/query tables (ids + a few query vectors) — a plain join
    # on neighbor_id would shuffle every corpus row's embedding a second
    # time after ivf_assign already streamed them once
    scored = (
        v.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cos4", F.round(cosine(F.col("qvec"), F.col("nvec")), 4))
    )  # candidate set is already nprobe/k_cells of the corpus; per-pair
    # norm folds are acceptable here (queries are few)
    return _cosine_rank(scored, 10)


def ivf_probe_cells(queries: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, centroid_id, rank): each query's nprobe nearest cells."""
    c = F.broadcast(centroids)
    scored = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    ).join(c).withColumn("cos4", F.round(cosine(F.col("qv"), F.col("centroid")), 4))
    w = W.partitionBy("query_id").orderBy(F.desc("cos4"), F.asc("centroid_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= nprobe)
        .select("query_id", "centroid_id", "rank")
    )


# ---------------------------------------------------------- storage ops


def quantize_int8(vectors: DataFrame) -> DataFrame:
    """(vec_id, scale, q): symmetric int8 quantization — 4x smaller than
    float32 at ~0.4% max error, the standard storage layout for
    100 TB-scale embedding stores. value ~= q * scale with
    scale = max|x| / 127; FLOOR(x/scale + 0.5) spells the rounding
    explicitly so any engine reproduces the exact codes. Narrow pass.

    absmax/scale are materialized as columns FIRST — a per-element
    lambda re-evaluates its whole bound expression per element, so an
    embedded absmax fold would cost O(d²) per row."""
    staged = vectors.select(
        F.col("vec_id"),
        F.col("embedding").alias("_v_"),
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
        ).alias("_absmax_"),
    )
    absmax = F.col("_absmax_")
    scale = absmax / F.lit(127.0)
    q = F.when(absmax == 0, F.transform(F.col("_v_"), lambda x: F.lit(0))).otherwise(
        F.transform(
            F.col("_v_"),
            lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int"),
        )
    )
    return staged.select("vec_id", scale.alias("scale"), q.alias("q"))


def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(label, dim, c): element-wise mean embedding per label — the
    mean-pooled class centroid used for nearest-centroid classification
    and embedding-space curation.

    Determinism across engines: per-(label, dim) sums run on exact
    DECIMAL (order-independent), cast to double only for the final
    division, rounded to 6. One posexplode + one groupBy on
    (label, dim) — k*d groups, tiny shuffle regardless of corpus size.
    The exploded scalar form IS the output (narrow, hashable);
    :func:`assemble_centroids` packs it back into arrays for joins.
    """
    return (
        vectors.select(
            F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("dim", "x")
        )
        .groupBy("label", "dim")
        .agg(
            F.sum(F.col("x").cast("double").cast("decimal(25,10)")).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "label",
            "dim",
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("c"),
        )
    )


def assemble_centroids(centroids: DataFrame) -> DataFrame:
    """(label, centroid): pack (label, dim, c) scalar rows into ordered
    double arrays (dimension-sorted struct collect)."""
    return (
        centroids.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dc"))
        .select("label", F.transform(F.col("dc"), lambda s: s.getField("c")).alias("centroid"))
    )


def centroid_outliers(vectors: DataFrame) -> DataFrame:
    """(vec_id, label, dist, rk): the 20 vectors farthest from their
    OWN label's centroid, per label — mislabeled/noise candidates for
    embedding-space quality filtering.

    Scale shape: centroids are k rows — broadcast; the distance is a
    per-row zip_with fold (no shuffle over the corpus); only the top-k
    window shuffles, keyed on label with per-partition work bounded by the
    label's row count (at extreme per-label cardinality swap the window
    for a groupBy min_by-heap variant). Distance folds run in array order
    on both engines, so the rounded values are bit-identical to the
    oracle's list_sum.
    """
    cents = assemble_centroids(label_centroids(vectors))
    d2 = _fold_sum(
        F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        )
    )
    w = W.partitionBy("label").orderBy(F.desc("dist"), F.asc("vec_id"))
    return (
        vectors.select(F.col("vec_id"), F.col("label"), F.col("embedding"))
        .join(F.broadcast(cents), "label")
        .withColumn("dist", F.round(F.sqrt(d2), 4))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("vec_id", "label", "dist", F.col("rk").cast("long").alias("rk"))
    )


def _subspace_melt(vec_col: str, field: str) -> F.Column:
    """array<struct(subspace, <field>)> of the vector's ``PQ_M``
    contiguous slices — the ONE definition of the PQ subspace layout, shared by
    codebook build, code assignment and the probe LUT so the three can
    never disagree on which dimensions belong to which subspace."""
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("subspace"),
                F.slice(F.col(vec_col), s * PQ_SUB + 1, PQ_SUB).alias(field),
            )
            for s in range(PQ_M)
        ]
    )


def pq_codebook(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(subspace, cid, c8): a product-quantization codebook — the 64-wide
    vector space split into ``PQ_M`` contiguous subspaces, each with
    ``PQ_K`` centroids taken deterministically from the ``PQ_K`` lowest-id
    vectors' slices (the same no-RNG seeding rule as
    :func:`ivf_seed_centroids`, so any engine rebuilds the codebook
    bit-for-bit; run Lloyd per subspace when recall matters more than
    reproducibility)."""
    seeds = vectors.orderBy("vec_id").limit(PQ_K)
    return seeds.select(
        F.col("vec_id").alias("cid"),
        F.explode(_subspace_melt(vec_col, "c8")).alias("sc"),
    ).select("cid", F.col("sc.subspace").alias("subspace"), F.col("sc.c8").alias("c8"))


def pq_refine_codebook(vectors: DataFrame, codebook: DataFrame) -> DataFrame:
    """Per-subspace Lloyd refinement of a PQ codebook — the quality lever
    over the deterministic low-id seeding: assign codes, replace each
    centroid with the mean of its assigned slices; two rounds.

    Each iteration is one broadcast assign (pq_assign) + one
    (subspace, code, pos) mean — m*k*sub groups, tiny — so the corpus is
    scanned twice per round and nothing corpus-sized ever shuffles wide
    rows. Cells that attract no vectors drop out (dead centroids —
    identical semantics in the SQL oracle, which groups by assigned
    codes only).

    Determinism contract (the reason this refines hash-identically on
    any engine): per-position means are DECIMAL(25,12) exact sums
    divided once, rounded to 6 decimals, cast to float — the same
    order-independence rule as every other cross-engine aggregate here.
    """
    cur = codebook
    for _ in range(2):
        melted = vectors.select(
            F.col("vec_id"),
            F.explode(_subspace_melt("embedding", "v8")).alias("sv"),
        ).select(
            "vec_id", F.col("sv.subspace").alias("subspace"), F.col("sv.v8").alias("v8")
        )
        codes = pq_assign(vectors, cur)
        assigned = codes.join(melted, ["vec_id", "subspace"]).select(
            "subspace", "code", "v8"
        )
        cur = (
            assigned.select("subspace", "code", F.posexplode("v8").alias("pos", "x"))
            .groupBy("subspace", "code", "pos")
            .agg(
                F.round(
                    F.sum(F.col("x").cast("double").cast("decimal(25,12)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("mval")
            )
            .groupBy("subspace", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pm"))
            .select(
                F.col("code").alias("cid"),
                "subspace",
                F.transform(
                    F.col("pm"), lambda s: s.getField("mval").cast("float")
                ).alias("c8"),
            )
        )
    return cur


def _dense_values(col, n_rows: int):
    """Flat float values of an Arrow list column, REFUSING nulls and
    ragged lengths: a null vector or a wrong-length vector would
    otherwise silently misalign the (n, m, sub) reshape and corrupt
    every row after it in the batch."""
    if col.null_count:
        raise ValueError("PQ kernel: null embedding vectors are not supported")
    flat = col.flatten().to_numpy(zero_copy_only=False)
    if flat.size != n_rows * DIM:
        raise ValueError(
            f"PQ kernel: expected {n_rows} x {DIM} embedding values, got "
            f"{flat.size} (ragged or wrong-dim vectors)"
        )
    return flat


def _collect_codebook(codebook: DataFrame):
    """Codebook as per-subspace (cid array, centroid matrix) numpy pairs,
    cid-sorted — a bounded driver reduction (a PQ codebook is m*k tiny
    rows BY DEFINITION; it exists to be memory-resident). Shared by the
    assignment and probe-LUT Arrow kernels so both see the identical
    cid order the tiebreak contract depends on."""
    import numpy as np

    rows = codebook.select("subspace", "cid", "c8").collect()
    by_s: dict[int, list] = {}
    for r in rows:
        by_s.setdefault(r.subspace, []).append((r.cid, list(r.c8)))
    cb_cids, cb_mats = [], []
    for s in range(PQ_M):
        entries = sorted(by_s.get(s, []))
        if not entries:
            raise ValueError(f"codebook has no centroids for subspace {s}")
        cb_cids.append(np.array([c for c, _ in entries], dtype=np.int64))
        cb_mats.append(np.array([v for _, v in entries], dtype=np.float64))
    return cb_cids, cb_mats


def _pq_kernel(codebook: DataFrame, arrays) -> tuple[list, Callable]:
    """(per-subspace centroid ids, ``d2``): the Arrow kernel that
    :func:`pq_assign` and :func:`_pq_probe_lut` share. ``d2`` maps
    (id, vector) record batches to (ids, per-subspace matrices of the
    squared distance of every row to every centroid) for each non-empty
    batch, one matrix at a time.

    ``arrays`` is a precollected :func:`_collect_codebook` result, so
    composers that feed the SAME codebook to both kernels (adc/ivf-pq
    search) evaluate its groupBy DAG once, not twice — the codebook build
    is the dominant fixed cost per search."""
    import numpy as np

    cb_cids, cb_mats = arrays or _collect_codebook(codebook)

    def d2(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            flat = _dense_values(b.column(1), n)
            Vs = flat.astype(np.float64).reshape(n, PQ_M, PQ_SUB)
            yield b.column(0).to_numpy(zero_copy_only=False), (
                np.square(Vs[:, s, None, :] - cb_mats[s][None, :, :]).sum(axis=-1)
                for s in range(PQ_M)
            )

    return cb_cids, d2


def pq_assign(
    vectors: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    arrays=None,
) -> DataFrame:
    """(vec_id, subspace, code, dist4): per-subspace nearest-centroid codes
    — the PQ compression step that stores a 64-float vector as ``PQ_M`` small
    codes (8 bytes + codebook), the standard layout for billion-scale ANN
    memory residency.

    Scale shape — the FAISS kernel layout, not a join: a PQ codebook is
    m*k tiny rows BY DEFINITION (it exists to be memory-resident), so it
    collects once (bounded driver reduction, like the per-bucket offsets
    in bucketing.py) and ships in the task closure; the n*m*k distance
    matrix is then a vectorized numpy kernel inside ``mapInArrow`` —
    never materialized as rows. The expression forms (a min(struct)
    aggregate, or a per-row transform/array_min fold) were measured
    22-38s at sf0.1 m=32/k=256 — Spark higher-order functions don't
    codegen, and 16M interpreted lambda evals is their floor; the Arrow
    kernel does the same arithmetic in ~100ms.

    Determinism contract: the argmin compares UNROUNDED squared
    distances — float32 slices widened to float64, (a-b)*(a-b), summed
    in index order — an IEEE-exact sequence that numpy, the JVM and
    DuckDB reproduce bit-for-bit (no libm, no reassociation: numpy's
    pairwise summation is sequential below 8 terms, and ``POWER(x, 2)``
    is avoided in the oracle in favor of explicit multiplication). Ties
    break to the lowest cid (codewords scanned in cid order, strict-less
    replacement). Only the OUTPUT distance is rounded (dist4, 4
    decimals), and that happens Spark-side with exact decimal rounding.
    """
    import numpy as np
    import pyarrow as pa

    cb_cids, d2 = _pq_kernel(codebook, arrays)
    subspaces = np.arange(PQ_M, dtype=np.int32)

    def assign_batches(batches):
        for ids, ds in d2(batches):
            n = len(ids)
            codes = np.empty((n, PQ_M), dtype=np.int64)
            d2min = np.empty((n, PQ_M), dtype=np.float64)
            for s, d in enumerate(ds):
                j = np.argmin(d, axis=1)  # ties -> first = lowest cid
                codes[:, s] = cb_cids[s][j]
                d2min[:, s] = d[np.arange(n), j]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, PQ_M), type=pa.int64()),
                    pa.array(np.tile(subspaces, n), type=pa.int32()),
                    pa.array(codes.reshape(-1), type=pa.int64()),
                    pa.array(d2min.reshape(-1), type=pa.float64()),
                ],
                names=["vec_id", "subspace", "code", "d2"],
            )

    raw = vectors.select(
        F.col("vec_id").cast("long").alias("vec_id"), F.col(vec_col)
    ).mapInArrow(assign_batches, "vec_id long, subspace int, code long, d2 double")
    return raw.select(
        "vec_id", "subspace", "code", F.round("d2", 4).alias("dist4")
    )


def _pq_probe_lut(
    probes: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
    arrays=None,
) -> DataFrame:
    """(query_id, subspace, code, pd2): the ADC lookup table — every
    probe's squared distance to every subspace centroid, each term
    rounded to 4 decimals then held as DECIMAL(20,4) so downstream sums
    are order-independent. n_probes*m*k rows; always broadcast.

    Distances come from the same Arrow kernel as :func:`pq_assign`
    (bit-exact raw float64), with the round-4 + decimal cast applied
    Spark-side so decimal rounding stays an exact JVM operation — the
    melt/zip_with expression form this replaces spent ~1.6s of
    interpreted HOF time on 82k rows at sf0.1."""
    import numpy as np
    import pyarrow as pa

    cb_cids, d2 = _pq_kernel(codebook, arrays)

    def lut_batches(batches):
        for ids, ds in d2(batches):
            n = len(ids)
            out_q, out_s, out_c, out_d = [], [], [], []
            for s, d in enumerate(ds):
                k_s = d.shape[1]
                out_q.append(np.repeat(ids, k_s))
                out_s.append(np.full(n * k_s, s, dtype=np.int32))
                out_c.append(np.tile(cb_cids[s], n))
                out_d.append(d.reshape(-1))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.int32()),
                    pa.array(np.concatenate(out_c), type=pa.int64()),
                    pa.array(np.concatenate(out_d), type=pa.float64()),
                ],
                names=["query_id", "subspace", "code", "pd2raw"],
            )

    raw = probes.select(
        F.col(id_col).cast("long").alias("query_id"), F.col(vec_col)
    ).mapInArrow(
        lut_batches, "query_id long, subspace int, code long, pd2raw double"
    )
    return raw.select(
        "query_id",
        "subspace",
        "code",
        F.round("pd2raw", 4).cast("decimal(20,4)").alias("pd2"),
    )


def _adc_rank(scored: DataFrame) -> DataFrame:
    """(query_id, vec_id, adc_dec) -> the ranked ADC top-10 frame. One
    definition of the output contract (asc-distance/asc-id tiebreak,
    double cast, column names) shared by full-scan ADC and IVF-PQ so the
    two search shapes can never return inconsistently ranked results."""
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dec"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("adc_dec").cast("double").alias("adc4"),
            "rank",
        )
    )


def pq_adc_topk(
    vectors: DataFrame,
    probes: DataFrame,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-10 over PQ codes — the search half of
    product quantization (cf. reference's query surface: the engine only
    moves typed columns; here the "column" is the small code vector).

    For each probe, distance to a corpus vector is approximated from its
    codes alone: d2(probe, vec) ~= sum_s ||probe_s - centroid[code_s]||^2.
    The probe-side lookup table (probe x subspace x centroid -> partial
    d2) has n_probes*m*k rows — BROADCAST; the corpus contributes only
    its code rows (narrow ints, 64 floats never re-read). This is the
    billion-scale ANN serving layout: the big side is 8 bytes/vector and
    the float arithmetic happens once, on the tiny LUT.

    Shuffle budget: one groupBy (query_id, vec_id) whose input partially
    aggregates map-side (m rows -> 1), then the per-probe top-k window —
    both carry corpus x n_probes NARROW rows, never vectors. Partial
    distances are summed as DECIMAL(20,4) (each term rounded to 4
    first), so the total is order-independent and engines agree
    bit-for-bit; the final adc4 is the double cast of that exact sum.

    ``codebook`` overrides the default deterministic-seed build — pass a
    :func:`pq_refine_codebook` output to search on Lloyd-refined cells.
    """
    cb = (
        codebook
        if codebook is not None
        else pq_codebook(vectors)
    )
    codes, lut = _pq_codes_lut(vectors, probes, cb)
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd2").alias("adc_dec"))
    )
    return _adc_rank(scored)


def _pq_codes_lut(
    vectors: DataFrame, probes: DataFrame, cb: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(codes, lut): the PQ codes of ``vectors`` and the ADC lookup table
    of ``probes`` under codebook ``cb``, which is collected once for both."""
    cba = _collect_codebook(cb)
    codes = pq_assign(vectors, cb, arrays=cba).select("vec_id", "subspace", "code")
    return codes, _pq_probe_lut(probes, cb, "vec_id", "embedding", arrays=cba)


def _ivf_pq_index(
    vectors: DataFrame, probes: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(cents, cell, codes, lut): the IVF-PQ index over ``vectors`` —
    seeded centroids, each vector's cell (vec_id, centroid_id), its PQ
    codes — and the ADC lookup table of ``probes``."""
    cents = ivf_seed_centroids(vectors)
    cell = ivf_assign(vectors, cents).select("vec_id", "centroid_id")
    codes, lut = _pq_codes_lut(vectors, probes, pq_codebook(vectors))
    return cents, cell, codes, lut


def ivf_pq_search(vectors: DataFrame, probes: DataFrame) -> DataFrame:
    """IVF-PQ top-10: the full billion-scale ANN index — coarse cell routing
    (IVF) composed with code-book distances (ADC over PQ codes).

    Each query visits only its ``NPROBE`` nearest cells, and within them
    distances come from narrow code rows + the broadcast probe LUT — the
    corpus's float vectors are touched exactly twice, both at INDEX BUILD
    (cell assignment + code assignment), never at search. At 100 TB the
    (cell, codes) table is stored partitioned by ``centroid_id``, so the
    probed-cell filter becomes partition pruning and a search touches
    ~NPROBE/K_CELLS of the files; the local plan plays the same
    restriction as one broadcast hash join.

    Shuffle budget at search time: the codes⋈candidates join keyed on
    vec_id (corpus-sized narrow rows — pre-co-partitioned in the stored
    layout), the partially-aggregated (query, vec) distance groupBy, and
    the per-query top-k window. DECIMAL(20,4) partial sums keep results
    engine-exact.
    """
    cents, cell, codes, lut = _ivf_pq_index(vectors, probes)
    qprobe = ivf_probe_cells(probes, cents, NPROBE).select("query_id", "centroid_id")
    cand = (
        cell.join(F.broadcast(qprobe), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = (
        codes.join(cand, "vec_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd2").alias("adc_dec"))
    )
    return _adc_rank(scored)


def ivf_pq_residual_search(vectors: DataFrame, probes: DataFrame) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the index layout FAISS's IndexIVFPQ
    actually ships: PQ codes quantize each vector's residual v - c(cell)
    rather than the raw vector, so the codebook only has to cover the
    (much smaller) within-cell spread and code distortion drops for the
    same m/k budget. Query side mirrors it: for each probed cell the
    query's OWN residual against that cell's centroid builds the LUT, so
    ADC distances approximate ||(q - c) - (v - c)||^2 = ||q - v||^2 with
    cell-local codebooks.

    Determinism: residuals are exact float64 subtractions (float32
    widened first — both exact IEEE ops); everything downstream is the
    standard PQ contract (sequential in-order distance sums, lowest-cid
    ties, round-4 decimal LUT partials). The per-(query, cell) LUT keys
    pack as query_id * 1024 + centroid_id (``K_CELLS`` < 1024) to ride
    the shared probe-LUT kernel unchanged.

    Scale shape: identical to :func:`ivf_pq_search` — the corpus's float
    vectors are touched at index build only; search joins narrow code
    rows against a broadcast LUT that is merely nprobe x bigger. The one
    extra build cost is the residual projection, a broadcast map pass.
    """
    cents = ivf_seed_centroids(vectors)
    cell = ivf_assign(vectors, cents).select("vec_id", "centroid_id")
    cvecs = F.broadcast(
        cents.select(
            "centroid_id",
            F.transform(F.col("centroid"), lambda x: x.cast("double")).alias("cvec"),
        )
    )
    rv = (
        vectors.select(F.col("vec_id"), F.col("embedding").alias("v"))
        .join(cell, "vec_id")
        .join(cvecs, "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with(
                "v", "cvec", lambda a, b: a.cast("double") - b
            ).alias("rvec"),
        )
    )
    cb = pq_codebook(rv, vec_col="rvec")
    cba = _collect_codebook(cb)
    codes = pq_assign(rv, cb, vec_col="rvec", arrays=cba).select("vec_id", "subspace", "code")
    qprobe = ivf_probe_cells(probes, cents, NPROBE).select("query_id", "centroid_id")
    qres = (
        probes.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"))
        .join(F.broadcast(qprobe), "query_id")
        .join(cvecs, "centroid_id")
        .select(
            (F.col("query_id") * 1024 + F.col("centroid_id")).alias("qc"),
            F.zip_with(
                "q", "cvec", lambda a, b: a.cast("double") - b
            ).alias("qrvec"),
        )
    )
    lut = (
        _pq_probe_lut(qres, cb, "qc", "qrvec", arrays=cba)
        .select(
            F.expr("query_id div 1024").alias("query_id"),
            (F.col("query_id") % 1024).alias("centroid_id"),
            "subspace",
            "code",
            "pd2",
        )
    )
    cand = (
        cell.join(F.broadcast(qprobe), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "centroid_id", "vec_id")
    )
    scored = (
        codes.join(cand, "vec_id")
        .join(F.broadcast(lut), ["query_id", "centroid_id", "subspace", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd2").alias("adc_dec"))
    )
    return _adc_rank(scored)


def knn_graph(vectors: DataFrame) -> DataFrame:
    """Approximate 5-nearest-neighbor GRAPH over the whole corpus:
    (vec_id, neighbor_id, cosine4, rank<=5) for every vector.

    The self-join that would be O(N^2) becomes LSH-bucket candidates
    (single capped shuffle — :func:`lsh_bucket_pairs` on 8-bit
    prefixes), symmetrized, then exact-cosine reranked with a per-source
    top-k window. Candidates per
    node are bucket-bounded, so the window sorts tiny per-key groups.
    This is the substrate for graph-based semantic dedup and diversity
    sampling; at 100 TB the bucket prefix widens (more, smaller buckets)
    and the 100,000-row bucket cap bounds any hot region.
    """
    sig = lsh_signatures(vectors, N_PLANES)
    sym = lsh_bucket_pairs(sig, directed=True).select(
        "id_a", "id_b"
    )
    # norms once per NODE before the pair joins — cosine() inline would
    # re-fold both norms for every candidate pair (3x the flops)
    v = vectors.select(
        F.col("vec_id").alias("_vid"),
        F.col("embedding").alias("_vec"),
        norm_sq(F.col("embedding")).alias("_nsq"),
    )
    a = v.withColumnsRenamed({"_vid": "_a_id", "_vec": "_a_vec", "_nsq": "_a_nsq"})
    b = v.withColumnsRenamed({"_vid": "_b_id", "_vec": "_b_vec", "_nsq": "_b_nsq"})
    scored = (
        sym.join(a, sym.id_a == a._a_id)
        .join(b, sym.id_b == b._b_id)
        .select(
            F.col("id_a").alias("vec_id"),
            F.col("id_b").alias("neighbor_id"),
            F.round(
                dot(F.col("_a_vec"), F.col("_b_vec"))
                / F.sqrt(F.col("_a_nsq") * F.col("_b_nsq")),
                4,
            ).alias("cos4"),
        )
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos4"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        # + 0.0 pins IEEE signed zero: a near-orthogonal pair rounds to
        # -0.0 on DuckDB but 0.0 on Spark (ordering is unaffected — the
        # zeros compare equal — but the displayed cell diverges)
        .select(
            "vec_id",
            "neighbor_id",
            (F.col("cos4") + F.lit(0.0)).alias("cosine4"),
            "rank",
        )
    )


def random_projection(vectors: DataFrame) -> DataFrame:
    """Johnson-Lindenstrauss random projection: dense ``DIM``-d embeddings
    down to 16 coordinates (y_j = dot(v, plane_j) / sqrt(16))
    using the same md5-derived plane matrix as the LSH signatures.

    One packed-matrix transform per row — no shuffle, no Python; the
    cheap dimensionality cut that precedes clustering / ANN when 100 TB
    of full-width vectors won't fit the candidate stage. Deterministic
    planes mean two engines (and two runs) agree exactly.
    """
    planes = hyperplanes(16)
    mat = F.array(*[F.array(*[F.lit(x) for x in plane]) for plane in planes])
    scale = 0.25  # 1 / sqrt(16)
    vec = _checked_dim(F.col("embedding"), "random_projection")
    proj = F.transform(mat, lambda plane: F.round(dot(vec, plane) * scale, 6))
    return vectors.select("vec_id", proj.alias("projected"))


def lsh_multiprobe_pairs(signatures: DataFrame) -> DataFrame:
    """Multi-probe LSH candidates: each vector registers under its own
    8-bit prefix bucket AND the 2 buckets at Hamming distance 1 (the two lowest
    bits flipped) — near-misses that landed one bit apart still collide,
    recovering recall that single-bucket LSH loses without adding tables.

    3 bucket rows per vector go through :func:`capped_bucket_pairs`
    (100,000-row cap), deduped since a pair can meet in several buckets:
    candidate volume scales by the probe count, not by table count.
    """
    base = F.col("sig").bitwiseAND(F.lit((1 << 8) - 1))
    bucket_list = F.array(base, *[base.bitwiseXOR(F.lit(1 << j)) for j in range(2)])
    bucketed = signatures.select("vec_id", F.explode(bucket_list).alias("bucket"))
    return capped_bucket_pairs(bucketed, ["bucket"], 100_000, dedupe=True)


def lsh_banded_pairs(signatures: DataFrame, band_bits: int = 4) -> DataFrame:
    """OR-amplified LSH candidates: split the b-bit signature into
    4 disjoint ``band_bits``-bit keys; a pair is a candidate if
    it collides in ANY band (same amplification as MinHash banding).

    For moderate-similarity targets a single wide prefix is the wrong
    shape — collision probability decays exponentially in prefix bits
    (measured: 3/59 true cos>=0.4 pairs found by one 8-bit prefix).
    (band, key) is the bucket key, so all bands ride ONE shuffle.
    """
    melted = band_melt(signatures, F.col("vec_id"), bit_slices(F.col("sig"), 4, band_bits))
    return capped_bucket_pairs(melted, ["band", "key"], 100_000, dedupe=True)


def semantic_dedup_cells(
    vectors: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """SemDeDup-style semantic dedup: prune a vector when a LOWER-id
    vector in the SAME IVF cell has cosine >= 0.4.

    Returns (vec_id, cell, kept). The scale contract: the pairwise pass
    is scoped to one cell (join key = centroid_id), so cost is
    sum(cell_size^2) instead of N^2 — with k cells of balanced size
    that is N^2/k, and at 100 TB the cell id doubles as the disk
    partition key so each task joins one cell locally. The all-pairs
    dd_embedding_cosine operator remains the verification tier; this is
    the linear-memory production path (cf. Abbas et al., SemDeDup —
    public method, reimplemented on DataFrame ops from scratch).
    """
    assign = ivf_assign(vectors, centroids).select(
        "vec_id", F.col("centroid_id").alias("cell")
    )
    # ONE persisted per-vector relation carries (id, cell, vec, norm): a
    # self-join re-evaluates its input subplan per side, which would run
    # the assign pass (corpus x k dot products) three times here — twice
    # for the pairing sides, once for the output join. Persist trades one
    # materialized copy for the re-computation (ContextCleaner reclaims
    # it once the plan is unreferenced); at 100 TB the same role is
    # played by writing assign out as a cell-partitioned table before
    # the pairwise pass.
    from pyspark import StorageLevel

    from odbc2parquet_spark import cachereg

    v = cachereg.track(
        vectors.select(
            F.col("vec_id"),
            F.col("embedding").alias("v"),
            norm_sq(F.col("embedding")).alias("vsq"),
        )
        .join(assign, "vec_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = v.alias("a"), v.alias("b")
    dup_b = (
        a.join(b, (F.col("a.cell") == F.col("b.cell"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn(
            "cos4",
            F.round(
                dot(F.col("a.v"), F.col("b.v"))
                / F.sqrt(F.col("a.vsq") * F.col("b.vsq")),
                4,
            ),
        )
        .filter(F.col("cos4") >= 0.4)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        v.select("vec_id", "cell")
        .join(dup_b.withColumn("dup", F.lit(True)), "vec_id", "left")
        .select("vec_id", "cell", F.coalesce(F.col("dup"), F.lit(False)).alias("pruned"))
        .withColumn("kept", ~F.col("pruned"))
        .drop("pruned")
    )


def mmr_rerank(vectors: DataFrame, queries: DataFrame) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k: greedily pick
    4 of the 12 most-relevant candidates per probe, each
    step taking argmax of ``0.5 * rel - 0.5 * max_sim_to_selected``
    (Carbonell & Goldstein '98 — the standard de-redundancy re-rank for
    retrieval-augmented training-data selection).

    Scale shape: candidate generation is the broadcast-probe top-k scan
    (corpus never shuffles); then each probe's candidates COLLAPSE TO ONE
    ROW (an array of 12 (id, rel, emb, nsq) structs) and the entire
    greedy loop runs as row-level higher-order expressions — unrolled
    into 4 chained projections, each a fold-argmax over the
    remaining candidates with the pairwise cosine computed inline. No
    joins after the one collect_list groupBy, no windows, no UDF, no
    recomputation: the plan is scan -> shuffle(probe) -> 4 narrow
    projections. (A join-per-step formulation measured 70 shuffle
    exchanges for the same semantics; this is the idiomatic Spark shape
    for bounded per-group iterative algorithms.) All similarities round
    to 4 decimals before any comparison so independent engines agree;
    The weight 0.5 keeps the score arithmetic exact in binary floating point.

    Emits (query_id, step, vec_id, score): step 1 score = relevance,
    later steps the MMR objective (rounded to 6).
    """
    ranked = brute_force_topk(vectors, queries, k=12)
    cembs = ranked.join(
        vectors.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("emb"),
            norm_sq(F.col("embedding")).alias("nsq"),
        ),
        "neighbor_id",
    )
    # one row per probe: candidates sorted by (rel DESC, id ASC) — struct
    # sort is lexicographic, so negate rel for the descending component
    cand_struct = F.struct(
        (-F.col("cosine4")).alias("nr"),
        F.col("neighbor_id").alias("c"),
        F.col("cosine4").alias("rel"),
        F.col("emb"),
        F.col("nsq"),
    )
    per_probe = cembs.groupBy("query_id").agg(
        F.array_sort(F.collect_list(cand_struct)).alias("C")
    )

    def pair_cos(x: F.Column, s: F.Column) -> F.Column:
        return F.round(
            dot(x["emb"], s["emb"]) / F.sqrt(x["nsq"] * s["nsq"]), 4
        )

    def argmax_step(cm_col: F.Column, sel_ids: F.Column) -> F.Column:
        """Fold-argmax over candidates not yet selected, scoring from the
        CARRIED running max ``m`` — plain arithmetic, no dim-folds here.
        Returns struct(score, cand) with min-id tiebreak."""
        remaining = F.filter(
            cm_col, lambda x: ~F.array_contains(sel_ids, x["c"])
        )
        zero = F.struct(
            F.lit(-1e308).alias("score"),
            F.when(F.lit(False), F.element_at(cm_col, 1)).alias("cand"),
        )

        def merge(acc: F.Column, x: F.Column) -> F.Column:
            sx = F.round(F.lit(0.5) * x["rel"] - F.lit(0.5) * x["m"], 6)
            better = (sx > acc["score"]) | (
                (sx == acc["score"]) & (x["c"] < acc["cand"]["c"])
            )
            return F.when(
                better, F.struct(sx.alias("score"), x.alias("cand"))
            ).otherwise(acc)

        return F.aggregate(remaining, zero, merge)

    def bump_m(cm_col: F.Column, new_sel: F.Column) -> F.Column:
        """Incremental max-sim-to-selected — the oracle's GREATEST(m,
        new_sim) recurrence: ONE pairwise cosine per candidate per step
        instead of re-scanning the whole selected set (O(4·12)
        dim-folds total, not O(4²·12))."""
        return F.transform(
            cm_col,
            lambda x: F.struct(
                x["c"].alias("c"),
                x["rel"].alias("rel"),
                x["emb"].alias("emb"),
                x["nsq"].alias("nsq"),
                F.greatest(x["m"], pair_cos(x, new_sel)).alias("m"),
            ),
        )

    df = per_probe.withColumn("sel1", F.element_at(F.col("C"), 1))
    df = df.withColumn(
        "CM1",
        F.transform(
            F.col("C"),
            lambda x: F.struct(
                x["c"].alias("c"),
                x["rel"].alias("rel"),
                x["emb"].alias("emb"),
                x["nsq"].alias("nsq"),
                pair_cos(x, F.col("sel1")).alias("m"),
            ),
        ),
    )
    df = df.withColumn("ids1", F.array(F.col("sel1")["c"]))
    outputs = [
        F.struct(
            F.lit(1).alias("step"),
            F.col("sel1")["c"].alias("vec_id"),
            F.round(F.col("sel1")["rel"], 6).alias("score"),
        )
    ]
    for t in range(2, 5):
        df = df.withColumn(
            f"best{t}", argmax_step(F.col(f"CM{t - 1}"), F.col(f"ids{t - 1}"))
        )
        df = df.withColumn(
            f"ids{t}",
            F.concat(
                F.col(f"ids{t - 1}"), F.array(F.col(f"best{t}")["cand"]["c"])
            ),
        )
        if t < 4:
            df = df.withColumn(
                f"CM{t}", bump_m(F.col(f"CM{t - 1}"), F.col(f"best{t}")["cand"])
            )
        outputs.append(
            F.struct(
                F.lit(t).alias("step"),
                F.col(f"best{t}")["cand"]["c"].alias("vec_id"),
                F.col(f"best{t}")["score"].alias("score"),
            )
        )
    # exhausted steps (fewer than 4 candidates) carry a NULL id —
    # filter on the UNCAST id so non-integer id types survive (a
    # cast('long') here silently emptied string-id outputs)
    return (
        df.select("query_id", F.explode(F.array(*outputs)).alias("o"))
        .select(
            "query_id",
            F.col("o.step").alias("step"),
            F.col("o.vec_id").alias("vec_id"),
            F.col("o.score").alias("score"),
        )
        .filter(F.col("vec_id").isNotNull())
    )


def ivf_pq_nprobe_curve(vectors: DataFrame, probes: DataFrame) -> DataFrame:
    """IVF-PQ top-10 at the nprobe operating points 1, 2, 4 and 8 from ONE index
    build — how a real deployment sweeps the knob (the index is immutable;
    only the router's cell cutoff moves). Key identity: the candidate set
    at nprobe=p is exactly the scored set at nprobe=8 filtered to
    probe rank <= p (each corpus vector lives in one cell, so a (query,
    vec) candidate carries one well-defined cell rank). The rank-annotated
    ADC table is localCheckpointed once — bounded by candidates(nprobe=8)
    ~ |probes| * N * 8/k_cells narrow rows — and every
    operating point is a filter + per-query top-k window over those
    materialized blocks, not a rebuild. (The blocks live until the
    session drops the result; they are candidate-sized, not corpus-sized.)

    Returns (nprobe, query_id, neighbor_id, adc4, rank) — the per-point
    result contract of :func:`ivf_pq_search` with the operating point
    attached.
    """
    cents, cell, codes, lut = _ivf_pq_index(vectors, probes)
    qprobe = ivf_probe_cells(probes, cents, 8).select(
        "query_id", "centroid_id", F.col("rank").alias("prank")
    )
    cand = (
        cell.join(F.broadcast(qprobe), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "prank")
    )
    scored = (
        codes.join(cand, "vec_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", "vec_id", "prank")
        .agg(F.sum("pd2").alias("adc_dec"))
        .localCheckpoint(eager=True)
    )
    out = None
    for p in (1, 2, 4, 8):
        ranked = _adc_rank(
            scored.filter(F.col("prank") <= p).drop("prank")
        ).select(F.lit(p).alias("nprobe"), "query_id", "neighbor_id", "adc4", "rank")
        out = ranked if out is None else out.unionByName(ranked)
    return out
