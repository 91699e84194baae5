"""Similarity-search queries over ``embeddings`` — oracle-checked.

The brute-force top-k is the exactness baseline; the LSH signature/bucket
queries are the scale path. Hyperplanes are md5-derived constants embedded
as literals in BOTH the Spark plan and the DuckDB oracle, so the two
engines compute the same signatures from first principles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odbc2parquet_spark import cachereg
from odbc2parquet_spark.catalog import footer_row_count, load_table, table_path
from odbc2parquet_spark.functions.hashing import md5_long, md5_long_sql
from odbc2parquet_spark.operators import similarity as S
from odbc2parquet_spark.operators.similarity import dot_sql, norm_sq_sql
from odbc2parquet_spark.operators.text import words_sql
from odbc2parquet_spark.queries import query



def _graph_memo(spark: SparkSession, name: str, sf_dir: str, build) -> DataFrame:
    """``build()`` eagerly checkpointed, tracked (``cachereg.release``
    drops it) and memoized in :mod:`cachereg` per (application, ``name``,
    sf_dir) until the embeddings file changes."""

    def checkpointed() -> DataFrame:
        return cachereg.track(build().localCheckpoint(eager=True))

    path = table_path(sf_dir, "embeddings")
    return cachereg.memo(spark, (name, sf_dir), path, checkpointed)


def _lsh_graph_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (id_a < id_b) LSH bucket pairs over ``embeddings`` at the
    graph family's frozen operating point (16 planes, prefix_bits=8),
    through :func:`_graph_memo`.

    One edge list is shared by the graph family (PageRank, PPR, HITS, LPA,
    clustering coeff): a real pipeline builds the similarity graph ONCE
    and runs every graph analysis over it; re-deriving the signatures +
    bucket join per query paid the dominant cost of each graph query five
    times over. localCheckpoint (not persist) because the fixpoint
    operators need the edge list's LOGICAL plan truncated — a lazy
    persist caches blocks but re-embeds the full LSH plan at every
    per-round reference, and Catalyst re-analysis then dominates wall time
    (measured 2-2.5x on sim_hits/sim_lpa_communities)."""

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        sig = S.lsh_signatures(emb, S.N_PLANES)
        return S.lsh_bucket_pairs(sig).select("id_a", "id_b")

    return _graph_memo(spark, "lsh_graph_pairs", sf_dir, build)


def _lsh_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The :func:`_lsh_graph_pairs` graph as directed (src, dst) edges,
    both orientations of every pair."""
    pairs = _lsh_graph_pairs(spark, sf_dir)
    return pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )


def _lsh_graph_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The :func:`_lsh_graph_edges` graph as the (src, dst, out_deg) list
    of ``graph.out_degree_weighted``, through :func:`_graph_memo`: the
    PageRank walks read it every round, and its per-src window shuffle
    then runs once per session instead of once per call."""
    from odbc2parquet_spark.operators.graph import out_degree_weighted

    return _graph_memo(
        spark,
        "lsh_graph_weighted",
        sf_dir,
        lambda: out_degree_weighted(_lsh_graph_edges(spark, sf_dir)),
    )


def _norms_cte(name: str, where: str = "") -> str:
    """``name``: every embedding ``where`` keeps, with its squared norm ``nsq``."""
    return f"""
    {name} AS (
        SELECT vec_id, embedding,
               {norm_sq_sql("embedding")} AS nsq
        FROM embeddings{where}
    )"""


@query(
    "sim_bruteforce_topk",
    oracle="WITH "
    + _norms_cte("n")
    + f""",
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROUND({dot_sql("a.embedding", "b.embedding")} / SQRT(a.nsq * b.nsq), 4) AS cos4
        FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id != b.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos4,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos4 DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos4 + 0.0 AS cosine4, rank
    FROM ranked WHERE rank <= 10
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for a 10-vector probe set (broadcast the probes,
    stream the corpus — the O(Q x N) baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10))


def _planes_sql(n_planes: int = None) -> list[str]:
    planes = S.hyperplanes(n_planes or S.N_PLANES)
    return ["[" + ", ".join(repr(x) for x in row) + "]" for row in planes]


def _sig_sql(n_planes: int = None) -> str:
    """Signature expression: sum of (dot(embedding, H_j) > 0) << j."""
    return " + ".join(
        f"(CASE WHEN {dot_sql('embedding', lits)} > 0 THEN {1 << j} ELSE 0 END)"
        for j, lits in enumerate(_planes_sql(n_planes))
    )


# shared oracle CTEs: 16-plane LSH signatures and their 8-bit buckets
# (capped at 100000 ids)
_LSH_BUCKETS_CTE = f"""
    sig AS (
        SELECT vec_id, CAST({_sig_sql()} AS BIGINT) AS sig FROM embeddings
    ),
    b AS (
        SELECT vec_id, sig & 255 AS bucket FROM sig
        QUALIFY COUNT(*) OVER (PARTITION BY sig & 255) <= 100000
    )"""


def _lsh_pairs_cte(name: str = "pairs") -> str:
    """The LSH buckets plus ``name``: their pairs (id_a < id_b)."""
    return _LSH_BUCKETS_CTE + f""",
    {name} AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    )"""


_SYM_SQL = """
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs)"""

# the capped LSH bucket graph in both directions
_SYM_CTE = _lsh_pairs_cte() + "," + _SYM_SQL


@query(
    "sim_lsh_signatures",
    oracle=f"""
    SELECT vec_id, CAST({_sig_sql()} AS BIGINT) AS sig
    FROM embeddings
    """,
)
def sim_lsh_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit random-hyperplane signatures — one projection pass, no
    shuffle; the index build of the ANN scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_signatures(emb, S.N_PLANES)


def _centroids_cte(where: str) -> str:
    """``cent``: the first ``S.K_CELLS`` embeddings of those ``where``
    keeps, as IVF centroids; ``nc``: each with its squared norm ``csq``."""
    return f"""
    cent AS (
        SELECT vec_id AS centroid_id, embedding AS centroid
        FROM embeddings{where} ORDER BY vec_id LIMIT {S.K_CELLS}
    ),
    nc AS (
        SELECT centroid_id, centroid,
               {norm_sq_sql("centroid")} AS csq
        FROM cent
    )"""


def _cos4_cte(name: str, vectors: str) -> str:
    """``name``: the cosine, rounded to 4, of every ``vectors`` row (with
    ``nsq``) to every centroid of ``nc``."""
    return f"""
    {name} AS (
        SELECT v.vec_id, c.centroid_id,
               ROUND({dot_sql("v.embedding", "c.centroid")}
                     / SQRT(v.nsq * c.csq), 4) AS cos4
        FROM {vectors} v CROSS JOIN nc c
    )"""


_CENT_CTE = (
    _centroids_cte("")
    + ","
    + _norms_cte("nv")
    + ","
    + _cos4_cte("assign_scored", "nv")
    + """,
    assign AS (
        SELECT vec_id, centroid_id, cos4 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cos4 DESC, centroid_id) AS rnk
            FROM assign_scored
        ) WHERE rnk = 1
    )"""
)


@query(
    "sim_ivf_assign",
    oracle="WITH "
    + _CENT_CTE
    + """
    SELECT vec_id, centroid_id, cos4 FROM assign
    """,
)
def sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build: nearest of 16 deterministic seed centroids per
    vector — broadcast-map pass, corpus never shuffles; at scale this
    column becomes the disk partitioning for partition-pruned probes."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_assign(emb, S.ivf_seed_centroids(emb))


@query(
    "sim_silhouette",
    oracle="WITH "
    + _CENT_CTE
    + """,
    rnk AS (
        SELECT vec_id, centroid_id, cos4,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos4 DESC, centroid_id) AS rn
        FROM assign_scored
    ),
    own AS (SELECT vec_id, centroid_id, cos4 FROM rnk WHERE rn = 1),
    nxt AS (SELECT vec_id, cos4 AS cos_next FROM rnk WHERE rn = 2),
    sil AS (
        SELECT o.vec_id, o.centroid_id,
               CAST(CASE WHEN n.cos_next < 1.0
                         THEN ROUND((o.cos4 - n.cos_next)
                                    / (1.0 - n.cos_next), 6)
                         ELSE 0.0 END AS DECIMAL(18,6)) AS s
        FROM own o JOIN nxt n USING (vec_id)
    )
    SELECT centroid_id, COUNT(*) AS n_vecs,
           ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_sil
    FROM sil GROUP BY centroid_id
    """,
)
def sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell simplified silhouette of the IVF index — the clustering
    QA gate (0 = vectors sit on cell boundaries, ->1 = cells are tight
    and separated) that tells an ANN deployment whether low recall is a
    routing problem (bad cells -> re-seed/Lloyd) or a code-distortion
    problem (good cells -> raise PQ bits). Centroid-distance-only
    (O(N x k), no pairwise pass); see operators/similarity.ivf_silhouette
    for determinism + scale shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_silhouette(emb, S.ivf_seed_centroids(emb))


def _qprobe_cte(nprobe: int = S.NPROBE) -> str:
    """``qprobe``: the ``nprobe`` cells nearest each of the first 10 vectors."""
    return f"""
    qprobe AS (
        SELECT vec_id AS query_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ROUND({dot_sql("v.embedding", "c.centroid")}
                                / SQRT(v.nsq * c.csq), 4) DESC, c.centroid_id) AS rnk
            FROM nv v CROSS JOIN nc c
            WHERE v.vec_id < 10
        ) WHERE rnk <= {nprobe}
    )"""


@query(
    "sim_ivf_topk",
    oracle="WITH "
    + _CENT_CTE
    + ","
    + _qprobe_cte()
    + f""",
    cand AS (
        SELECT q.query_id, a.vec_id AS neighbor_id
        FROM assign a JOIN qprobe q ON a.centroid_id = q.centroid_id
        WHERE q.query_id != a.vec_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               ROUND({dot_sql("q.embedding", "n.embedding")}
                     / SQRT(q.nsq * n.nsq), 4) AS cos4
        FROM cand c
        JOIN nv q ON q.vec_id = c.query_id
        JOIN nv n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos4 + 0.0 AS cosine4, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos4 DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 10
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 for a 10-vector probe set (nprobe=4 of 16
    cells): each query scores only ~nprobe/k_cells of the corpus — the
    ANN scale path where the corpus is too big even for LSH all-bucket
    pairing."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = S.ivf_seed_centroids(emb)
    return S.ivf_search(emb, emb.filter(F.col("vec_id") < 10), cent)


# Benched for the uncached LSH edge build: the graph family (sim_pagerank,
# sim_ppr, sim_hits, sim_lpa_communities, sim_clustering_coeff) shares one
# memoized edge list, so their timings leave out the signature and bucket
# build after the first construction.
@query(
    "sim_lsh_bucket_pairs",
    oracle="WITH "
    + _LSH_BUCKETS_CTE
    + """
    SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.bucket
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    """,
)
def sim_lsh_bucket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN candidate pairs sharing an 8-bit signature-prefix bucket — the
    equi-join that replaces the cross join at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_bucket_pairs(S.lsh_signatures(emb, S.N_PLANES))


@query(
    "sim_lsh_auto_occupancy",
    oracle=f"""
    WITH p AS (
        SELECT LEAST(16, GREATEST(4,
               CAST(CEIL(LOG2(COUNT(*) / 64.0)) AS INT))) AS bits
        FROM embeddings
    ),
    sig AS (
        SELECT vec_id, CAST({_sig_sql()} AS BIGINT) AS sig
        FROM embeddings
    ),
    b AS (
        SELECT vec_id,
               sig & (CAST(POW(2, (SELECT bits FROM p)) AS BIGINT) - 1) AS bucket
        FROM sig
    ),
    bb AS (
        SELECT vec_id, bucket FROM b
        QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= 100000
    )
    SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.bucket,
           (SELECT bits FROM p) AS prefix_bits
    FROM bb x JOIN bb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    """,
)
def sim_lsh_auto_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs at the OCCUPANCY-DERIVED bucket width: the
    prefix_bits knob set from the corpus count (buckets ~ n / 64, the
    scaling rule SCALE.md measured at sf10) instead of the frozen
    prefix_bits=8 operating point — sf0.01 derives 4 bits, sf0.1 5,
    amplified sf1 9, sf10 12 (the measured 7.3M-edge sweet spot). The
    oracle recomputes the SAME double-precision derivation from COUNT(*),
    so the emitted ``prefix_bits`` column pins the rule cross-engine at
    every scale, and the pair list pins its effect."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    pairs = S.lsh_bucket_pairs(
        S.lsh_signatures(emb, S.N_PLANES),
        target_occupancy=64,
        n_vectors=n,
        max_prefix_bits=S.N_PLANES,
    )
    bits = S.derived_prefix_bits(n, max_bits=S.N_PLANES)
    return pairs.withColumn("prefix_bits", F.lit(bits))


@query(
    "sim_quantize_int8",
    bench=False,
    oracle="""
    WITH m AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS absmax
        FROM embeddings
    ),
    qq AS (
        SELECT vec_id, absmax / 127.0 AS scale,
               CASE WHEN absmax = 0
                    THEN list_transform(embedding, x -> 0)
                    ELSE list_transform(embedding,
                         x -> CAST(FLOOR(CAST(x AS DOUBLE) / (absmax / 127.0) + 0.5) AS INTEGER))
               END AS q
        FROM m
    )
    SELECT vec_id, scale, CAST(generate_subscripts(q, 1) - 1 AS INTEGER) AS pos,
           CAST(unnest(q) AS INTEGER) AS qv
    FROM qq
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4x storage cut for the
    100 TB store) — explicit FLOOR(+0.5) rounding so both engines emit the
    exact same codes. The operator keeps the packed array<int> layout
    (operators/similarity.quantize_int8); the registered query posexplodes
    it to scalar (vec_id, scale, pos, qv) rows so the driver's
    pandas-based canonicalizer can sort/hash the output."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.quantize_int8(emb).select(
        "vec_id", "scale", F.posexplode("q").alias("pos", "qv")
    )


# element-wise per-label mean on exact decimal sums (order-independent),
# shared by the centroid query and the outlier query
_CENTROID_CTE = """
    cx AS (
        SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    cent AS (
        SELECT label, dim,
               ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(25,10))) AS DOUBLE)
                     / COUNT(*), 6) AS c
        FROM cx GROUP BY label, dim
    )"""


@query(
    "sim_label_centroids",
    oracle="WITH " + _CENTROID_CTE + " SELECT label, dim, c FROM cent",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooled class centroid per label (operators/similarity.
    label_centroids): exact decimal sums so both engines agree bit-for-bit,
    emitted as narrow (label, dim, c) scalar rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.label_centroids(emb)


@query(
    "sim_centroid_outliers",
    oracle="WITH "
    + _CENTROID_CTE
    + """,
    centarr AS (
        SELECT label, list(c ORDER BY dim) AS centroid FROM cent GROUP BY label
    ),
    dist AS (
        SELECT e.vec_id, e.label,
               ROUND(SQRT(list_sum(list_transform(list_zip(e.embedding, c.centroid),
                          p -> POWER(CAST(p[1] AS DOUBLE) - p[2], 2)))), 4) AS dist
        FROM embeddings e JOIN centarr c USING (label)
    )
    SELECT vec_id, label, dist, CAST(rk AS BIGINT) AS rk FROM (
        SELECT vec_id, label, dist,
               ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS rk
        FROM dist
    ) WHERE rk <= 20
    """,
)
def sim_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 farthest-from-own-centroid vectors per label — the
    mislabeled/noise candidate list for embedding-space curation
    (operators/similarity.centroid_outliers: broadcast centroids, per-row
    fold distance, bounded per-label top-k window)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.centroid_outliers(emb)


@query(
    "sim_hybrid_search",
    oracle=f"""
    WITH probe AS (
        SELECT embedding AS p,
               {norm_sq_sql("embedding")} AS psq
        FROM embeddings WHERE vec_id = 0
    ),
    hits AS (
        SELECT d.doc_id, e.embedding,
               {norm_sq_sql("e.embedding")} AS esq
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE list_contains(string_split(d.text, ' '), 'spark')
    ),
    scored AS (
        SELECT h.doc_id,
               ROUND({dot_sql("h.embedding", "p.p")}
                     / SQRT(h.esq * p.psq), 4) AS cosine4
        FROM hits h, probe p
    )
    SELECT doc_id, cosine4, CAST(rk AS BIGINT) AS rank FROM (
        SELECT doc_id, cosine4,
               ROW_NUMBER() OVER (ORDER BY cosine4 DESC, doc_id) AS rk
        FROM scored
    ) WHERE rk <= 10
    """,
)
def sim_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style hybrid retrieval: a selective keyword predicate prunes
    the corpus FIRST (evaluated directly on the scan output, before any
    join), the surviving docs join their embeddings on id, and an exact
    cosine rerank against a broadcast
    1-row probe yields the top 10. The expensive vector math runs only on
    keyword survivors — the hybrid plan's whole point at corpus scale;
    the final rank window touches 10 rows post-limit, never the corpus."""
    from odbc2parquet_spark.operators.similarity import cosine

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.array_contains(F.split(F.col("text"), " "), "spark")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    scored = (
        docs.select("doc_id")
        .join(emb, docs.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(probe))
        .select(
            "doc_id",
            F.round(cosine(F.col("embedding"), F.col("p")), 4).alias("cosine4"),
        )
    )
    top = scored.orderBy(F.desc("cosine4"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("cosine4"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@query(
    "sim_pq_codes",
    bench=False,
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS cid, embedding FROM embeddings ORDER BY vec_id LIMIT {S.PQ_K}
    ),
    sub AS (
        SELECT vec_id, CAST(t.s AS INTEGER) AS subspace,
               list_slice(embedding, s * {S.PQ_SUB} + 1, s * {S.PQ_SUB} + {S.PQ_SUB}) AS v8
        FROM embeddings, UNNEST(generate_series(0, {S.PQ_M - 1})) AS t(s)
    ),
    cb AS (
        SELECT cid, CAST(t.s AS INTEGER) AS subspace,
               list_slice(embedding, s * {S.PQ_SUB} + 1, s * {S.PQ_SUB} + {S.PQ_SUB}) AS c8
        FROM seeds, UNNEST(generate_series(0, {S.PQ_M - 1})) AS t(s)
    ),
    scored AS (
        SELECT sub.vec_id, sub.subspace, cb.cid,
               list_sum(list_transform(list_zip(sub.v8, cb.c8),
                        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                           * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
                   AS d2
        FROM sub JOIN cb ON cb.subspace = sub.subspace
    )
    SELECT vec_id, subspace, cid AS code, ROUND(d2, 4) AS dist4 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY d2, cid) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (operators/similarity.pq_codebook/pq_assign):
    64-dim float vectors compressed to m=32 per-subspace centroid codes
    (2 dims/subspace, 256 codewords — the measured 0.72-recall operating
    point) — the billion-scale ANN memory layout. Deterministic seed
    codebook so the DuckDB oracle rebuilds identical codes; the Spark
    argmin is a map-side-partial min(struct) aggregate, the oracle's is
    a window."""
    from odbc2parquet_spark.operators.similarity import pq_assign, pq_codebook

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb)
    return pq_assign(emb, cb)


def _pq_codes_ctes(p: str, sub: str) -> str:
    """CTEs ``{p}scored``, the squared distance of every ``sub`` slice to
    every ``{p}cb`` codeword of its subspace, and ``{p}codes``, each
    slice's nearest codeword (ties to the lowest cid)."""
    return f"""
    {p}scored AS (
        SELECT {sub}.vec_id, {sub}.subspace, {p}cb.cid,
               list_sum(list_transform(list_zip({sub}.v8, {p}cb.c8),
                        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))
                   AS d2
        FROM {sub} JOIN {p}cb ON {p}cb.subspace = {sub}.subspace
    ),
    {p}codes AS (
        SELECT vec_id, subspace, cid AS code FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                         ORDER BY d2, cid) AS rn
            FROM {p}scored
        ) WHERE rn = 1
    )"""


def _pq_index_ctes(p: str = "") -> str:
    """The PQ index as DuckDB CTEs (codebook -> codes -> probe LUT) —
    ONE SQL definition shared by sim_pq_adc_topk, sim_pq_recall and
    sim_ivf_pq_topk, so every query certifies the SAME index. The
    ``p`` prefix renames the CTEs when the block composes with other
    chains (sim_ivf_pq_topk adds the IVF assign CTEs, whose names would
    otherwise clash)."""
    return f"""
    {p}seeds AS (
        SELECT vec_id AS cid, embedding FROM embeddings ORDER BY vec_id LIMIT {S.PQ_K}
    ),
    {p}sub AS (
        SELECT vec_id, CAST(t.s AS INTEGER) AS subspace,
               list_slice(embedding, s * {S.PQ_SUB} + 1, s * {S.PQ_SUB} + {S.PQ_SUB}) AS v8
        FROM embeddings, UNNEST(generate_series(0, {S.PQ_M - 1})) AS t(s)
    ),
    {p}cb AS (
        SELECT cid, CAST(t.s AS INTEGER) AS subspace,
               list_slice(embedding, s * {S.PQ_SUB} + 1, s * {S.PQ_SUB} + {S.PQ_SUB}) AS c8
        FROM {p}seeds, UNNEST(generate_series(0, {S.PQ_M - 1})) AS t(s)
    ),""" + _pq_codes_ctes(p, f"{p}sub") + f""",
    {p}psub AS (
        SELECT vec_id AS query_id, subspace, v8 AS p8 FROM {p}sub WHERE vec_id < 10
    ),
    {p}lut AS (
        SELECT {p}psub.query_id, {p}cb.subspace, {p}cb.cid AS code,
               CAST(ROUND(list_sum(list_transform(list_zip({p}psub.p8, {p}cb.c8),
                        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
                     4) AS DECIMAL(20,4)) AS pd2
        FROM {p}psub JOIN {p}cb ON {p}cb.subspace = {p}psub.subspace
    )"""


#: the full-scan ADC distance CTE (every probe against every code row),
#: appended after :func:`_pq_index_ctes`
_PQ_ADC_SCAN_CTE = """,
    adc AS (
        SELECT l.query_id, c.vec_id, SUM(l.pd2) AS adc_dec
        FROM codes c
        JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
        WHERE c.vec_id != l.query_id
        GROUP BY l.query_id, c.vec_id
    )"""


def _adc_top10_sql(adc: str = "adc") -> str:
    """The 10 nearest neighbours of each probe by ADC distance in ``adc``."""
    return f"""
    SELECT query_id, vec_id AS neighbor_id,
           CAST(adc_dec AS DOUBLE) AS adc4, CAST(rnk AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dec, vec_id) AS rnk
        FROM {adc}
    ) WHERE rnk <= 10
    """


@query(
    "sim_pq_adc_topk",
    oracle="WITH "
    + _pq_index_ctes()
    + _PQ_ADC_SCAN_CTE
    + _adc_top10_sql(),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over PQ codes (operators/similarity.pq_adc_topk): the
    10-probe top-10 answered from 8-byte code vectors + a broadcast
    probe-side lookup table — the corpus's float vectors are read once
    (to build codes) and never again. Decimal-exact partial-distance
    sums make the approximate distances hash-identical across engines."""
    from odbc2parquet_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, emb.filter(F.col("vec_id") < 10))


#: the composed IVF-PQ chain (IVF assign + probed cells + PQ index +
#: cell-restricted ADC distances) — shared by sim_ivf_pq_topk,
#: sim_ivf_pq_recall, and (nprobe-parameterized) sim_nprobe_curve so the
#: recall evaluations certify the same composed index the search serves
#: from.
def _ivf_pq_ctes(nprobe: int = S.NPROBE) -> str:
    return (
        _CENT_CTE
        + ","
        + _qprobe_cte(nprobe)
        + ","
        + _pq_index_ctes("pq_")
        + """,
    cand AS (
        SELECT q.query_id, a.vec_id
        FROM assign a JOIN qprobe q ON a.centroid_id = q.centroid_id
        WHERE q.query_id != a.vec_id
    ),
    adc AS (
        SELECT cd.query_id, cd.vec_id, SUM(l.pd2) AS adc_dec
        FROM cand cd
        JOIN pq_codes c ON c.vec_id = cd.vec_id
        JOIN pq_lut l ON l.query_id = cd.query_id
                     AND l.subspace = c.subspace AND l.code = c.code
        GROUP BY cd.query_id, cd.vec_id
    )"""
    )


_IVF_PQ_CTES = _ivf_pq_ctes()


@query(
    "sim_ivf_pq_topk",
    oracle="WITH "
    + _IVF_PQ_CTES
    + _adc_top10_sql(),
)
def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (operators/similarity.ivf_pq_search): coarse cell routing
    composed with code-book ADC distances — each query visits nprobe=4 of
    16 cells and scores candidates from narrow code rows + a broadcast LUT.
    The composition a real billion-vector index serves; both index
    structures (cells, codes) are deterministic so the DuckDB oracle
    rebuilds them bit-for-bit."""
    from odbc2parquet_spark.operators.similarity import ivf_pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_search(emb, emb.filter(F.col("vec_id") < 10))


# shared oracle CTEs: the exact cosine top 10 of each of the first 10 vectors
_EXACT_TOP_CTE = (
    _norms_cte("n")
    + f""",
    exact_scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROUND({dot_sql("a.embedding", "b.embedding")} / SQRT(a.nsq * b.nsq), 4) AS cos4
        FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id != b.vec_id
    ),
    exact_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos4 DESC, neighbor_id) AS rnk
            FROM exact_scored
        ) WHERE rnk <= 10
    )"""
)


def _adc_top_cte(adc: str = "adc") -> str:
    """``adc_top``: the 10 nearest neighbours of each probe by ADC distance
    in ``adc``."""
    return f"""
    adc_top AS (
        SELECT query_id, vec_id AS neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_dec, vec_id) AS rnk
            FROM {adc}
        ) WHERE rnk <= 10
    )"""


def _hits_cte(name: str = "hits") -> str:
    """``name``: per probe, how many of its ``adc_top`` rows ``exact_top``
    also holds."""
    return f"""
    {name} AS (
        SELECT a.query_id, COUNT(*) AS n_hits
        FROM adc_top a
        JOIN exact_top e ON e.query_id = a.query_id
                        AND e.neighbor_id = a.neighbor_id
        GROUP BY a.query_id
    )"""


def _recall10_sql(adc: str = "adc") -> str:
    """Per-probe recall@10 of the ADC search ``adc`` against the exact top 10."""
    return (
        _EXACT_TOP_CTE
        + ","
        + _adc_top_cte(adc)
        + ","
        + _hits_cte()
        + """
    SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) / 10.0 AS DOUBLE) AS recall10
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits h ON h.query_id = q.query_id
    """
    )


def _recall10(emb: DataFrame, probes: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, n_hits, recall10): per probe, how many of the approximate
    (query_id, neighbor_id) rows ``approx`` are in the exact cosine top 10
    over ``emb`` — the Spark side of ``_recall10_sql``."""
    exact = S.brute_force_topk(emb, probes).select("query_id", "neighbor_id")
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    base = probes.select(F.col("vec_id").alias("query_id"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn("recall10", (F.col("n_hits") / F.lit(10.0)).cast("double"))
    )


@query(
    "sim_pq_recall",
    bench=False,
    oracle="WITH "
    + _pq_index_ctes()
    + _PQ_ADC_SCAN_CTE
    + ","
    + _recall10_sql(),
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation for the PQ path: per probe, how many of
    the EXACT cosine top-10 the ADC top-10 recovers — the recall@10 a
    deployment measures on a sampled slice before committing to m/k
    compression settings (the same eval pattern as sim_candidate_recall
    for the LSH path)."""
    from odbc2parquet_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    adc = pq_adc_topk(emb, probes).select(
        "query_id", "neighbor_id"
    )
    return _recall10(emb, probes, adc)


def _pq_lloyd_iter_ctes(src_codes: str, p: str) -> str:
    """ONE Lloyd step as CTEs: read assigned codes ``src_codes``, emit a
    refined codebook ``{p}cb`` and re-derived codes ``{p}codes`` —
    mirrors one loop turn of operators/similarity.pq_refine_codebook
    (decimal-exact per-position means, round 6, float cast; dead cells
    drop). Chain calls for multi-iteration refinement."""
    return f""",
    {p}av AS (
        SELECT c.subspace, c.code, s.v8
        FROM {src_codes} c
        JOIN sub s ON s.vec_id = c.vec_id AND s.subspace = c.subspace
    ),
    {p}mean AS (
        SELECT subspace, code, CAST(t.p AS INTEGER) AS pos,
               ROUND(CAST(SUM(CAST(CAST(v8[CAST(t.p AS INTEGER)] AS DOUBLE)
                                   AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*), 6)
                   AS mval
        FROM {p}av, UNNEST(generate_series(1, {S.PQ_SUB})) AS t(p)
        GROUP BY 1, 2, 3
    ),
    {p}cb AS (
        SELECT subspace, code AS cid,
               list_transform(list(mval ORDER BY pos), x -> CAST(x AS FLOAT)) AS c8
        FROM {p}mean GROUP BY 1, 2
    ),""" + _pq_codes_ctes(p, "sub")


#: two Lloyd steps + ADC search on the twice-refined index — mirrors
#: pq_refine_codebook's two rounds; measured recall@10 0.74 -> ~0.8 at
#: sf0.1 over the single-iteration form.
_PQ_LLOYD_CTES = (
    _pq_lloyd_iter_ctes("codes", "r")
    + _pq_lloyd_iter_ctes("rcodes", "r2")
    # the ADC search CTEs (probe LUT + full-scan distances) over the
    # twice-refined codebook
    + """,
    rlut AS (
        SELECT psub.query_id, r2cb.subspace, r2cb.cid AS code,
               CAST(ROUND(list_sum(list_transform(list_zip(psub.p8, r2cb.c8),
                        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
                     4) AS DECIMAL(20,4)) AS pd2
        FROM psub JOIN r2cb ON r2cb.subspace = psub.subspace
    ),
    radc AS (
        SELECT l.query_id, c.vec_id, SUM(l.pd2) AS adc_dec
        FROM r2codes c
        JOIN rlut l ON l.subspace = c.subspace AND l.code = c.code
        WHERE c.vec_id != l.query_id
        GROUP BY 1, 2
    )"""
)


@query(
    "sim_pq_lloyd_recall",
    bench=False,
    oracle="WITH "
    + _pq_index_ctes()
    + _PQ_LLOYD_CTES
    + ","
    + _recall10_sql("radc"),
)
def sim_pq_lloyd_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of ADC search on a Lloyd-REFINED PQ codebook (two
    iterations of operators/similarity.pq_refine_codebook over the
    deterministic seeds) — the quality lever on sim_pq_recall's baseline:
    same probes, same exact ground truth, refined cells. The oracle
    re-derives the Lloyd step (assign -> decimal-exact per-position
    means -> re-assign -> re-search) entirely in SQL, so the refined
    index is certified end-to-end, not just the final counts."""
    from odbc2parquet_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_refine_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb)
    rcb = pq_refine_codebook(emb, cb)
    probes = emb.filter(F.col("vec_id") < 10)
    adc = pq_adc_topk(emb, probes, codebook=rcb).select(
        "query_id", "neighbor_id"
    )
    return _recall10(emb, probes, adc)


@query(
    "sim_ivf_pq_recall",
    bench=False,
    oracle="WITH "
    + _IVF_PQ_CTES
    + ","
    + _recall10_sql(),
)
def sim_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the COMPOSED IVF-PQ index vs the exact ground truth —
    isolates how much the nprobe cell routing loses on top of PQ's code
    distortion (compare against sim_pq_recall, the full-scan ADC
    recall): the two-knob tuning readout (nprobe vs m/k) a deployment
    reads before fixing the index layout."""
    from odbc2parquet_spark.operators.similarity import ivf_pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    approx = ivf_pq_search(emb, probes).select("query_id", "neighbor_id")
    return _recall10(emb, probes, approx)


@query(
    "sim_recall_floor",
    oracle="WITH "
    + _IVF_PQ_CTES
    + ","
    + _EXACT_TOP_CTE
    + ","
    + _adc_top_cte()
    + ","
    + _hits_cte()
    + """,
    per_q AS (
        SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits
        FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
        LEFT JOIN hits h ON h.query_id = q.query_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(n_hits) / (10.0 * COUNT(*)), 6) AS mean_recall10,
           CAST(0.6 AS DOUBLE) AS floor,
           ROUND(SUM(n_hits) / (10.0 * COUNT(*)), 6) >= 0.6 AS passed
    FROM per_q
    """,
)
def sim_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ANN operating point, frozen as a gate: mean
    recall@10 of the raw-encoding IVF-PQ index (nprobe=4 of 16 cells,
    m=32, k=256 — the config the round-8 head-to-head measured at 0.70
    sf0.01 / 0.78 sf0.1, beating residual encoding's 0.59/0.74) against
    the exact brute-force ground truth, with the 0.6 floor evaluated
    IN-QUERY. A future codebook/routing/centroid change that silently
    regresses retrieval flips ``passed`` to false and the driver's hash
    gate goes red — retrieval quality is under the same contract as
    correctness. One extra aggregate over sim_ivf_pq_recall's per-query
    rows; same keyed-join scale shape."""
    from odbc2parquet_spark.operators.similarity import ivf_pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    approx = ivf_pq_search(emb, probes).select("query_id", "neighbor_id")
    per_q = _recall10(emb, probes, approx)
    mean_recall = F.round(F.sum("n_hits") / (10.0 * F.count(F.lit(1))), 6)
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        mean_recall.alias("mean_recall10"),
        F.lit(0.6).cast("double").alias("floor"),
        (mean_recall >= 0.6).alias("passed"),
    )


# shared oracle CTE: the approximate k-NN graph (k=5) — used by
# sim_knn_graph and sim_jaccard_links so a hash match on the latter
# certifies the same graph construction end-to-end
_KNN_CTE = (
    _SYM_CTE
    + ","
    + _norms_cte("nv")
    + f""",
    scored AS (
        SELECT s.src AS vec_id, s.dst AS neighbor_id,
               ROUND({dot_sql("a.embedding", "b.embedding")}
                     / SQRT(a.nsq * b.nsq), 4) AS cos4
        FROM sym s
        JOIN nv a ON a.vec_id = s.src
        JOIN nv b ON b.vec_id = s.dst
    ),
    knn AS (
        SELECT vec_id, neighbor_id, cos4 + 0.0 AS cosine4, rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cos4 DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 5
    )
"""
)


@query(
    "sim_knn_graph",
    oracle="WITH "
    + _KNN_CTE
    + "\n    SELECT vec_id, neighbor_id, cosine4, rank FROM knn",
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate k-NN graph (k=5): LSH-bucket candidates
    (one capped shuffle, no cross join) symmetrized and exact-cosine
    reranked per source node — the substrate for graph-based semantic
    dedup / diversity sampling."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph(emb)


#: the 16-d random projection of ``embedding`` as a DuckDB list: a dot
#: with each of the first 16 planes, scaled by 1 / sqrt(16)
_PROJ_SQL = "[" + ", ".join(
    f"ROUND({dot_sql('embedding', lits)} * 0.25, 6)"
    for lits in _planes_sql()[:16]
) + "]"


@query(
    "sim_random_projection",
    oracle=f"""
    WITH p AS (SELECT vec_id, {_PROJ_SQL} AS proj FROM embeddings)
    SELECT vec_id, CAST(generate_subscripts(proj, 1) - 1 AS INTEGER) AS pos,
           unnest(proj) AS val
    FROM p
    """,
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64-d -> 16-d (packed-matrix transform, zero
    shuffle); registered output posexplodes the array so the driver's
    canonicalizer can hash it."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.random_projection(emb).select(
        "vec_id", F.posexplode("projected").alias("pos", "val")
    )


# shared oracle CTEs: the uncapped LSH bucket graph in both directions,
# with out-degrees
_RANK_GRAPH_CTE = f"""
    sig AS (
        SELECT vec_id, CAST({_sig_sql()} AS BIGINT) AS sig FROM embeddings
    ),
    b AS (SELECT vec_id, sig & 255 AS bucket FROM sig),
    pairs AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),{_SYM_SQL},
    deg AS (SELECT src, COUNT(*) AS out_deg FROM sym GROUP BY src)"""


def _rank_push_cte(i: int) -> str:
    """``c{i}``: the rank each node receives from ``r{i - 1}`` over ``sym``."""
    return f"""
    c{i} AS (
        SELECT s.dst AS id, SUM(r.rank // d.out_deg) AS s
        FROM sym s
        JOIN r{i - 1} r ON r.id = s.src
        JOIN deg d ON d.src = s.src
        GROUP BY s.dst
    )"""


def _pagerank_iter_sql(i: int) -> str:
    return _rank_push_cte(i) + f""",
    r{i} AS (
        SELECT e.vec_id AS id,
               CAST((15 * p.base) // 100
                    + (85 * COALESCE(c{i}.s, 0)) // 100 AS BIGINT) AS rank
        FROM embeddings e CROSS JOIN p
        LEFT JOIN c{i} ON c{i}.id = e.vec_id
    )"""


@query(
    "sim_pagerank",
    oracle=f"""
    WITH {_RANK_GRAPH_CTE},
    p AS (SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS base FROM embeddings),
    r0 AS (SELECT e.vec_id AS id, p.base AS rank FROM embeddings e CROSS JOIN p),
    {",".join(_pagerank_iter_sql(i) for i in range(1, 4)).lstrip(",")}
    SELECT id, rank FROM r3
    """,
)
def sim_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (3 iterations, micro-unit int64 arithmetic)
    over the LSH similarity graph — a centrality/quality signal for
    curation. Iterative distributed fixpoint on Spark; the oracle unrolls
    the same three rounds in SQL, and the integer spec makes the engines
    agree bit-for-bit where floating PageRank could not. N comes from the
    embeddings file's parquet footers, so building the walk runs no Spark
    job; the returned plan reads the memoized weighted list when the
    caller's action runs, so ``cachereg.release`` must not come between
    the two."""
    from odbc2parquet_spark.operators.graph import pagerank_int

    emb = load_table(spark, sf_dir, "embeddings")
    weighted = _lsh_graph_weighted(spark, sf_dir)
    nodes = emb.select(F.col("vec_id").alias("id"))
    return pagerank_int(nodes, weighted, footer_row_count(emb))


def _ppr_iter_sql(i: int) -> str:
    return _rank_push_cte(i) + f""",
    r{i} AS (
        SELECT id, rank FROM (
            SELECT COALESCE(sd.id, c{i}.id) AS id,
                   CAST(CASE WHEN sd.id IS NULL THEN 0
                             ELSE (15 * (SELECT base FROM p)) // 100 END
                        + (85 * COALESCE(c{i}.s, 0)) // 100 AS BIGINT) AS rank
            FROM seeds sd FULL OUTER JOIN c{i} ON sd.id = c{i}.id
        ) WHERE rank > 0
    )"""


@query(
    "sim_ppr",
    oracle=f"""
    WITH {_RANK_GRAPH_CTE},
    seeds AS (SELECT vec_id AS id FROM embeddings WHERE vec_id % 50 = 0),
    p AS (SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS base FROM seeds),
    r0 AS (SELECT id, (SELECT base FROM p) AS rank FROM seeds),
    {",".join(_ppr_iter_sql(i) for i in range(1, 4)).lstrip(",")}
    SELECT id, rank FROM r3
    """,
)
def sim_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: random walk with restart to a 1-in-50 seed
    set over the LSH similarity graph — the seed-set EXPANSION primitive
    ("find me more documents like this curated batch"). Integer-exact
    like sim_pagerank, but teleport mass lands only on seeds and
    unreached nodes stay at exactly 0, so each of the 3 unrolled rounds
    shuffles the rank FRONTIER, not the corpus — the property that makes
    PPR tractable at 100 TB where global PageRank densifies."""
    from odbc2parquet_spark.operators.graph import personalized_pagerank_int

    emb = load_table(spark, sf_dir, "embeddings")
    weighted = _lsh_graph_weighted(spark, sf_dir)
    seeds = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("id")
    )
    return personalized_pagerank_int(weighted, seeds)


@query(
    "sim_multiprobe_pairs",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, CAST({{sig}} AS BIGINT) AS sig FROM embeddings
    ),
    b0 AS (
        SELECT vec_id, unnest([sig & 255,
                               xor(sig & 255, 1),
                               xor(sig & 255, 2)]) AS bucket
        FROM sig
    ),
    b AS (
        SELECT vec_id, bucket FROM b0
        QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= 100000
    )
    SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    """.replace("{sig}", _sig_sql()),
)
def sim_multiprobe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH candidate pairs (2 extra Hamming-1 probes per
    vector): strictly-superset recall over single-bucket pairing at
    (1+probes)x candidate volume — same capped single-shuffle shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_multiprobe_pairs(
        S.lsh_signatures(emb, S.N_PLANES)
    )


@query(
    "sim_negative_samples",
    oracle="WITH "
    + _LSH_BUCKETS_CTE
    + f""",
    near AS (
        SELECT x.vec_id AS anchor, y.vec_id AS neighbor
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id != y.vec_id
    ),
    n AS (SELECT COUNT(*) AS total FROM embeddings),
    cand AS (
        SELECT s.vec_id AS anchor, t.j AS slot,
               {md5_long_sql("'neg:' || CAST(s.vec_id AS VARCHAR) || ':' || CAST(t.j AS VARCHAR)")}
                   % (SELECT total FROM n) AS cand_id
        FROM sig s, UNNEST(generate_series(0, 7)) AS t(j)
    )
    SELECT anchor, slot, cand_id AS negative_id
    FROM cand c
    WHERE c.cand_id != c.anchor
      AND NOT EXISTS (SELECT 1 FROM near nr
                      WHERE nr.anchor = c.anchor AND nr.neighbor = c.cand_id)
    """,
)
def sim_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negative mining: 8 deterministic hash-drawn
    candidates per anchor, minus itself and minus anything sharing its
    LSH bucket (likely-positive exclusion) — the hard-negative-safe
    random negative set, with no RNG state. One anti-join against the
    bucket-neighbor pairs; candidate generation is a pure hash
    expression. vec_ids are assumed dense 0..N-1 (true of the testdata;
    at scale use a zipWithIndex-style dense id pass first)."""
    emb = load_table(spark, sf_dir, "embeddings")
    total = emb.count()
    sig = S.lsh_signatures(emb, S.N_PLANES)
    near = S.lsh_bucket_pairs(sig, directed=True).select(
        F.col("id_a").alias("anchor"), F.col("id_b").alias("neighbor")
    )
    slots = F.explode(F.sequence(F.lit(0), F.lit(7))).alias("slot")
    cand = sig.select(F.col("vec_id").alias("anchor"), slots).select(
        "anchor",
        "slot",
        (
            md5_long(
                F.concat(
                    F.lit("neg:"),
                    F.col("anchor").cast("string"),
                    F.lit(":"),
                    F.col("slot").cast("string"),
                )
            )
            % total
        ).alias("cand_id"),
    ).filter(F.col("cand_id") != F.col("anchor"))
    return cand.join(
        near,
        (cand.anchor == near.anchor) & (cand.cand_id == near.neighbor),
        "left_anti",
    ).select("anchor", "slot", F.col("cand_id").alias("negative_id"))


@query(
    "sim_candidate_recall",
    bench=False,
    oracle="WITH "
    + _norms_cte("nv")
    + f""",
    truth AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM nv a JOIN nv b ON a.vec_id < b.vec_id
        WHERE ROUND({dot_sql("a.embedding", "b.embedding")} / SQRT(a.nsq * b.nsq), 4) >= 0.4
    ),
    sig AS (SELECT vec_id, CAST({{sig}} AS BIGINT) AS sig FROM embeddings),
    b AS (
        SELECT vec_id, sig & 255 AS bucket FROM sig
        QUALIFY COUNT(*) OVER (PARTITION BY sig & 255) <= 100000
    ),
    single AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    mp0 AS (
        SELECT vec_id, unnest([sig & 255,
                               xor(sig & 255, 1),
                               xor(sig & 255, 2)]) AS bucket
        FROM sig
    ),
    mp AS (
        SELECT vec_id, bucket FROM mp0
        QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= 100000
    ),
    multi AS (
        SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        FROM mp x JOIN mp y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    bd AS (
        SELECT vec_id, t.j AS band, (sig >> (4 * t.j)) & 15 AS key
        FROM sig, UNNEST(generate_series(0, 3)) AS t(j)
        QUALIFY COUNT(*) OVER (PARTITION BY t.j, (sig >> (4 * t.j)) & 15)
            <= 100000
    ),
    banded AS (
        SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        FROM bd x JOIN bd y ON x.band = y.band AND x.key = y.key
                           AND x.vec_id < y.vec_id
    )
    SELECT COUNT(*) AS n_true_pairs,
           CAST(SUM(CASE WHEN s.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS found_single,
           CAST(SUM(CASE WHEN m.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS found_multi,
           CAST(SUM(CASE WHEN bb.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS found_banded
    FROM truth t
    LEFT JOIN single s ON s.id_a = t.id_a AND s.id_b = t.id_b
    LEFT JOIN multi m ON m.id_a = t.id_a AND m.id_b = t.id_b
    LEFT JOIN banded bb ON bb.id_a = t.id_a AND bb.id_b = t.id_b
    """.replace("{sig}", _sig_sql()),
)
def sim_candidate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: of the EXACT cosine>=0.4 pairs, how many
    does single-bucket LSH find, and how many does multi-probe recover?
    The ground truth is the all-pairs scorer (verification tier, bounded
    corpus); the candidates are the production index shapes — the query a
    100 TB deployment runs on a sampled slice to tune prefix_bits/probes
    before committing to a layout."""
    emb = load_table(spark, sf_dir, "embeddings")
    nsq = S.norm_sq(F.col("embedding"))
    nv = emb.select("vec_id", "embedding", nsq.alias("nsq"))
    a = nv.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("nsq").alias("na")
    )
    b = nv.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("nsq").alias("nb")
    )
    cos4 = F.round(
        S.dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na") * F.col("nb")), 4
    )
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cos4 >= 0.4)
        .select("id_a", "id_b")
    )
    sig = S.lsh_signatures(emb, S.N_PLANES)
    single = S.lsh_bucket_pairs(sig).select(
        F.col("id_a").alias("s_a"), F.col("id_b").alias("s_b")
    )
    multi = S.lsh_multiprobe_pairs(sig).select(
        F.col("id_a").alias("m_a"), F.col("id_b").alias("m_b")
    )
    banded = S.lsh_banded_pairs(sig).select(
        F.col("id_a").alias("b_a"), F.col("id_b").alias("b_b")
    )
    return (
        truth.join(single, (truth.id_a == single.s_a) & (truth.id_b == single.s_b), "left_outer")
        .join(multi, (truth.id_a == multi.m_a) & (truth.id_b == multi.m_b), "left_outer")
        .join(banded, (truth.id_a == banded.b_a) & (truth.id_b == banded.b_b), "left_outer")
        .agg(
            F.count("*").alias("n_true_pairs"),
            F.sum(F.when(F.col("s_a").isNotNull(), 1).otherwise(0)).cast("long").alias("found_single"),
            F.sum(F.when(F.col("m_a").isNotNull(), 1).otherwise(0)).cast("long").alias("found_multi"),
            F.sum(F.when(F.col("b_a").isNotNull(), 1).otherwise(0)).cast("long").alias("found_banded"),
        )
    )


@query(
    "sim_banded_pairs",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, CAST({{sig}} AS BIGINT) AS sig FROM embeddings
    ),
    bb AS (
        SELECT CAST(LEAST(12, GREATEST(4,
                   CEIL(LOG2(CAST(COUNT(*) AS DOUBLE) / 64))))
               AS BIGINT) AS bits
        FROM embeddings
    ),
    bd AS (
        SELECT vec_id, t.j AS band,
               (sig >> (b.bits * t.j)) & ((1 << b.bits) - 1) AS key
        FROM sig, bb b, UNNEST(generate_series(0, 3)) AS t(j)
        QUALIFY COUNT(*) OVER (PARTITION BY t.j,
                   (sig >> (b.bits * t.j)) & ((1 << b.bits) - 1)) <= 100000
    )
    SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
    FROM bd x JOIN bd y ON x.band = y.band AND x.key = y.key
                       AND x.vec_id < y.vec_id
    """.replace("{sig}", _sig_sql(48)),
)
def sim_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified hyperplane LSH candidates over a 48-bit signature,
    4 bands x ADAPTIVE band width: bits = clamp(ceil(log2(n/64)), 4, 12),
    so the expected bucket holds ~64 vectors at ANY corpus size and the
    candidate volume stays ~linear in n. A fixed 4-bit band (16 buckets)
    is quadratic by construction — bucket size grows with the corpus and
    in-bucket pair expansion grows with its square (measured 46x on a
    10x data decade before this change; ~4x after). The width is one
    1-row count to the driver, mirrored exactly in the oracle (integer
    clamp of an exact-double log2 — no cross-engine boundary risk);
    recall tuning per width is pinned by sim_candidate_recall on the
    16-bit config. All bands still ride one shuffle on (band, key).
    Only the 4 x bits lowest planes are projected (the bands never read
    higher signature bits, so the 48-plane oracle signature produces
    identical keys)."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    bits = min(12, max(4, math.ceil(math.log2(max(n, 1) / 64))))
    return S.lsh_banded_pairs(
        S.lsh_signatures(emb, 4 * bits), band_bits=bits
    )


@query(
    "dd_semantic_cells",
    oracle="WITH "
    + _CENT_CTE
    + f""",
    cellv AS (
        SELECT a.vec_id, a.centroid_id AS cell, v.embedding, v.nsq
        FROM assign a JOIN nv v ON v.vec_id = a.vec_id
    ),
    dup AS (
        SELECT DISTINCT y.vec_id
        FROM cellv x JOIN cellv y ON x.cell = y.cell AND x.vec_id < y.vec_id
        WHERE ROUND({dot_sql("x.embedding", "y.embedding")}
                    / SQRT(x.nsq * y.nsq), 4) >= 0.4
    )
    SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept
    FROM cellv c LEFT JOIN dup d ON d.vec_id = c.vec_id
    """,
)
def dd_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup, cell-scoped: assign every embedding
    to its nearest of 16 deterministic IVF centroids, find cosine>=0.4
    pairs WITHIN each cell only, and keep the lowest-id member of every
    near-dup relation. The pairwise cost drops from N^2 (the
    dd_embedding_cosine verification tier) to sum(cell^2) ~ N^2/k, and
    the cell id is the natural disk-partition key at 100 TB — each task
    dedups one cell with zero cross-cell traffic."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup_cells(
        emb, S.ivf_seed_centroids(emb)
    )


@query(
    "sim_triangle_count",
    oracle="WITH "
    + _lsh_pairs_cte("edges")
    + """,
    tri AS (
        SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        FROM edges e1
        JOIN edges e2 ON e1.id_b = e2.id_a
        JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    )
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS id FROM tri)
    GROUP BY id
    """,
)
def sim_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the 8-bit-prefix LSH bucket graph —
    the clustering-coefficient ingredient that tells dense near-dup
    communities (many closed wedges) from hub-and-spoke false-positive
    buckets (many open wedges, few triangles). Canonical a<b<c
    orientation finds each triangle once; two equi-joins partitioned by
    the wedge node. Edge source matters for the wedge budget (sum deg^2):
    prefix buckets keep degree bounded by the capped bucket size
    (measured 12.3s -> 1.1s at sf0.1 vs the OR-amplified banded graph,
    whose near-complete per-band buckets quadratically inflate wedges —
    the same density that makes banding good for RECALL makes it the
    wrong graph to mine for structure)."""
    from odbc2parquet_spark.operators.graph import triangle_count

    emb = load_table(spark, sf_dir, "embeddings")
    edges = S.lsh_bucket_pairs(S.lsh_signatures(emb, S.N_PLANES))
    return triangle_count(edges.select("id_a", "id_b"))


@query(
    "sim_ivf_refine",
    oracle="WITH "
    + _CENT_CTE
    + """,
    ax AS (
        SELECT a.centroid_id AS cell, i - 1 AS dim,
               CAST(e.embedding[i] AS DOUBLE) AS x
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id,
             UNNEST(generate_series(1, len(e.embedding))) AS t(i)
    )
    SELECT cell, dim,
           ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(25,10))) AS DOUBLE)
                 / COUNT(*), 6) AS c
    FROM ax GROUP BY cell, dim
    """,
)
def sim_ivf_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement step, hash-verified: assign every vector to
    its nearest seed centroid, then the element-wise mean per cell on
    exact decimals (order-independent sums -> both engines agree
    bit-for-bit, where a float avg would depend on reduction order).
    This puts the step the ivf_refine_centroids operator takes under
    the oracle gate. Narrow
    (cell, dim, c) scalar rows; the groupBy ships k*d groups regardless
    of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign = S.ivf_assign(emb, S.ivf_seed_centroids(emb)).select(
        "vec_id", "centroid_id"
    )
    av = emb.join(assign, "vec_id")
    return S.label_centroids(av, label_col="centroid_id").select(
        F.col("label").alias("cell"), "dim", "c"
    )


#: Unrolled MMR oracle: the greedy argmax loop as 4 chained CTEs (12
#: candidates for each of the first 8 probes), generated so the step
#: count can't drift from the Spark side.
_MMR_ORACLE = (
    "\n    WITH "
    + _norms_cte("n")
    + f""",
    scored AS (
        SELECT a.vec_id AS p, b.vec_id AS c,
               ROUND({dot_sql("a.embedding", "b.embedding")} / SQRT(a.nsq * b.nsq), 4) AS rel
        FROM n a JOIN n b ON a.vec_id < 8 AND a.vec_id != b.vec_id
    ),
    cand AS (
        SELECT p, c, rel FROM scored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p ORDER BY rel DESC, c)
                <= 12
    ),
    sims AS (
        SELECT x.p, x.c AS c1, y.c AS c2,
               ROUND({dot_sql("a.embedding", "b.embedding")} / SQRT(a.nsq * b.nsq), 4) AS s
        FROM cand x JOIN cand y ON x.p = y.p AND x.c != y.c
        JOIN n a ON a.vec_id = x.c
        JOIN n b ON b.vec_id = y.c
    ),
    sel1 AS (
        SELECT p, c, rel FROM cand
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p ORDER BY rel DESC, c) = 1
    ),
    st1 AS (
        SELECT cd.p, cd.c, cd.rel, s.s AS m
        FROM cand cd
        JOIN sel1 ON cd.p = sel1.p AND cd.c != sel1.c
        JOIN sims s ON s.p = cd.p AND s.c1 = cd.c AND s.c2 = sel1.c
    )"""
    + "".join(
        f""",
    sel{t} AS (
        SELECT p, c, ROUND(0.5 * rel - 0.5 * m, 6) AS score FROM st{t - 1}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p
                                   ORDER BY ROUND(0.5 * rel - 0.5 * m, 6) DESC,
                                            c) = 1
    )"""
        + (f""",
    st{t} AS (
        SELECT st.p, st.c, st.rel, GREATEST(st.m, s.s) AS m
        FROM st{t - 1} st
        JOIN sel{t} ON st.p = sel{t}.p AND st.c != sel{t}.c
        JOIN sims s ON s.p = st.p AND s.c1 = st.c AND s.c2 = sel{t}.c
    )""" if t < 4 else "")
        for t in range(2, 5)
    )
    + "\n    "
    + "\n    UNION ALL ".join(
        ["SELECT p AS query_id, 1 AS step, c AS vec_id, ROUND(rel, 6) AS score FROM sel1"]
        + [f"SELECT p AS query_id, {t} AS step, c AS vec_id, score FROM sel{t}" for t in range(2, 5)]
    )
)


@query("sim_mmr_topk", oracle=_MMR_ORACLE)
def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified retrieval
    (operators/similarity.mmr_rerank): exact top-12 candidates per probe,
    then 4 greedy MMR selections (lam = 0.5) — the de-redundancy re-rank
    between ANN search and training-data selection. The greedy loop is
    unrolled into declarative argmax steps (lexicographic struct max, no
    UDF, no window on the corpus); the oracle restates all 4 steps as
    chained CTEs, so a hash match pins every selection and score."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    return S.mmr_rerank(emb, probes)


@query(
    "sim_kcore_cert",
    oracle="WITH RECURSIVE "
    + _KNN_CTE
    + """,
    e AS (SELECT DISTINCT vec_id AS a, neighbor_id AS b FROM knn WHERE vec_id <> neighbor_id),
    arcs AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e),
    peel(r, x, y) AS (
        SELECT 0, x, y FROM arcs
        UNION ALL
        SELECT r + 1, x, y FROM (
            SELECT r, x, y,
                   COUNT(*) OVER (PARTITION BY x) AS dx,
                   COUNT(*) OVER (PARTITION BY y) AS dy
            FROM peel WHERE r < 50
        ) WHERE dx >= 6 AND dy >= 6
    ),
    core AS (SELECT x AS node, COUNT(*) AS degree FROM peel WHERE r = 50 GROUP BY x)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, CAST(SUM(degree) AS BIGINT) AS sum_degree,
           CAST(MIN(node) AS BIGINT) AS min_node, CAST(MAX(node) AS BIGINT) AS max_node,
           CAST(SUM(node) AS BIGINT) AS sum_nodes
    FROM core
    """,
)
def sim_kcore_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-core of the approximate 5-NN graph (operators/graph.k_core,
    Batagelj-Zaversnik peeling): the dense-subgraph miner behind
    collusion / engagement-farm detection — organic long-tail structure
    peels away, tightly inter-linked clusters survive. Output is a
    five-field certificate (node count, in-core degree sum, min/max/sum of
    node ids) of the converged core. Each peel round is one
    map-side-combined degree count + two semi-joins of the only-shrinking
    edge list.

    The oracle peels the same k-NN edge list in a recursive CTE: the edges
    in both orientations, so one window per endpoint counts its degree,
    for 50 rounds (``k_core``'s cap). Peeling reaches its fixpoint well
    before that and later rounds change nothing; an emptied core stops
    the recursion early and leaves no round-50 rows.
    """
    from odbc2parquet_spark.operators.graph import k_core

    kg = sim_knn_graph(spark, sf_dir)
    edges = kg.select(F.col("vec_id").alias("id_a"), F.col("neighbor_id").alias("id_b"))
    return k_core(edges).agg(
        F.count("*").alias("n_nodes"),
        F.sum("degree").alias("sum_degree"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
        F.sum("node").alias("sum_nodes"),
    )


@query(
    "sim_centroid_shift",
    oracle="""
    WITH x AS (
        SELECT vec_id % 2 AS half, t.i - 1 AS dim,
               CAST(embedding[t.i] AS DOUBLE) AS xd
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    q AS (
        SELECT half, dim,
               CAST(CASE WHEN xd >= 0 THEN FLOOR(xd * 1e6 + 0.5)
                         ELSE -FLOOR(-xd * 1e6 + 0.5) END AS BIGINT) AS xq
        FROM x
    ),
    m AS (
        SELECT half, dim,
               ROUND(CAST(SUM(xq) AS DOUBLE) / (1e6 * COUNT(*)), 6) AS mean
        FROM q GROUP BY half, dim
    ),
    per_dim AS (
        SELECT a.dim, a.mean AS mean_a, b.mean AS mean_b,
               ROUND(b.mean - a.mean, 6) AS delta
        FROM m a JOIN m b ON a.dim = b.dim AND a.half = 0 AND b.half = 1
    )
    SELECT dim, mean_a, mean_b, delta FROM per_dim
    UNION ALL
    SELECT -1, NULL, NULL,
           ROUND(SQRT(CAST(SUM(CAST(delta AS DECIMAL(18,6))
                               * CAST(delta AS DECIMAL(18,6))) AS DOUBLE)), 6)
    FROM per_dim
    """,
)
def sim_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor (operators/drift.embedding_centroid_shift):
    per-dimension centroid shift between two corpus snapshots (halves by
    vec_id parity here), plus the L2 norm of the shift vector as a
    dim = -1 summary row — the cheapest detector for an encoder-version
    or domain shift, which moves the MEAN long before it moves pairwise
    structure. Micro-unit int64 means (one division each, ROUND 6);
    deltas re-enter DECIMAL before squaring so the d-term L2 sum is
    order-independent. Each side collapses to d rows map-side."""
    from odbc2parquet_spark.operators.drift import embedding_centroid_shift

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    return embedding_centroid_shift(a, b)


@query(
    "sim_jaccard_links",
    oracle="WITH "
    + _KNN_CTE
    + """,
    e AS (SELECT vec_id AS u, neighbor_id AS n FROM knn),
    deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
    und AS (SELECT DISTINCT LEAST(u, n) AS ua, GREATEST(u, n) AS ub FROM e),
    com AS (
        SELECT p.ua, p.ub, COUNT(*) AS common
        FROM und p
        JOIN e x ON x.u = p.ua
        JOIN e y ON y.u = p.ub AND y.n = x.n
        GROUP BY p.ua, p.ub
    )
    SELECT c.ua AS id_a, c.ub AS id_b, c.common,
           ROUND(c.common / (da.d + db.d - c.common), 6) AS jaccard
    FROM com c
    JOIN deg da ON da.u = c.ua
    JOIN deg db ON db.u = c.ub
    """,
)
def sim_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the approximate k-NN graph: for every
    undirected graph edge (u, v), the Jaccard similarity of the two
    nodes' out-neighbor sets — the classic common-neighbors score that
    ranks which near-neighbor links reflect a shared semantic cluster
    versus an isolated coincidence (edges with zero common neighbors
    drop out of the equi-join, i.e. score 0). All-integer set sizes
    (degree <= k), one IEEE division, rounded to 6. Scale shape: the
    graph is O(k * n) edges; common-neighbor counting is an equi-join on
    the shared-neighbor id — never a pairwise scan — and degree is a
    k-bounded groupBy. Reuses the sim_knn_graph construction, so the
    oracle certifies graph + scoring end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(emb)
    e = knn.select(F.col("vec_id").alias("u"), F.col("neighbor_id").alias("n"))
    deg = e.groupBy("u").agg(F.count("*").alias("d"))
    und = e.select(
        F.least("u", "n").alias("ua"), F.greatest("u", "n").alias("ub")
    ).distinct()
    ex = e.select(F.col("u").alias("ua"), F.col("n").alias("cn"))
    ey = e.select(F.col("u").alias("ub"), F.col("n").alias("cn"))
    com = (
        und.join(ex, "ua")
        .join(ey, ["ub", "cn"])
        .groupBy("ua", "ub")
        .agg(F.count("*").alias("common"))
    )
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("db"))
    return (
        com.join(da, "ua")
        .join(db, "ub")
        .select(
            F.col("ua").alias("id_a"),
            F.col("ub").alias("id_b"),
            "common",
            F.round(
                F.col("common") / (F.col("da") + F.col("db") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


def _nprobe_branch(p: int) -> str:
    """One nprobe operating point: composed IVF-PQ top-10 vs the exact
    ground truth, aggregated to (nprobe, n_hits, mean_recall10)."""
    return f"""
    SELECT {p} AS nprobe, n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / 100, 6) AS mean_recall10
    FROM (
        WITH {_ivf_pq_ctes(p)},{_EXACT_TOP_CTE},{_adc_top_cte()}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM adc_top a
        JOIN exact_top e ON e.query_id = a.query_id
                        AND e.neighbor_id = a.neighbor_id
    )"""


@query(
    "sim_nprobe_curve",
    oracle="\n    UNION ALL\n".join(_nprobe_branch(p) for p in (1, 2, 4, 8)),
)
def sim_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ OPERATING CURVE: mean recall@10 of the composed index
    at nprobe in {1, 2, 4, 8} against the exact cosine ground truth —
    the one-table readout a deployment uses to pick its latency/recall
    point (each nprobe step scans ~nprobe/k_cells of the corpus's code
    rows, so cost is ~linear in nprobe while recall saturates). Measured
    at sf0.1: 0.70 / 0.70 / 0.70 / 0.71 — the curve is FLAT, i.e. recall
    is code-distortion-bound, not routing-bound (consistent with the
    0.99 cell-routing ceiling): the budget knob to spend on is m/k, and
    nprobe=1 serves at the same recall for 1/4 the candidate scan. Every
    branch re-derives the full composed index in the ORACLE, so the
    curve is hash-certified, not self-reported; the Spark side builds
    the index ONCE and derives every operating point from the
    rank-annotated candidate table (operators/similarity.
    ivf_pq_nprobe_curve) — the identity candidates(p) =
    candidates(max p) filtered to probe rank <= p makes the two shapes
    provably equal, and the oracle hash check enforces it."""
    from odbc2parquet_spark.operators.similarity import ivf_pq_nprobe_curve

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, probes).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_pq_nprobe_curve(emb, probes).select("nprobe", "query_id", "neighbor_id")
    hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "nprobe"
    ).agg(F.count("*").cast("long").alias("n_hits"))
    # every operating point appears (n_hits could in principle be 0) —
    # left-join back onto the literal point list
    pts = None
    for p in (1, 2, 4, 8):
        row = hits.sparkSession.range(1).select(F.lit(p).alias("nprobe"))
        pts = row if pts is None else pts.unionByName(row)
    return pts.join(hits, "nprobe", "left").select(
        "nprobe",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(100),
            6,
        ).alias("mean_recall10"),
    )


@query(
    "sim_knn_classifier",
    oracle="WITH "
    + _KNN_CTE
    + """,
    nb AS (
        SELECT k.vec_id, e.label AS nlabel
        FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
    ),
    votes AS (
        SELECT vec_id, nlabel, COUNT(*) AS c FROM nb GROUP BY vec_id, nlabel
    ),
    pred AS (
        SELECT vec_id, nlabel AS pred_label FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY c DESC, nlabel) AS rnk
            FROM votes
        ) WHERE rnk = 1
    )
    SELECT p.vec_id, e.label AS true_label, p.pred_label,
           CASE WHEN e.label = p.pred_label THEN 1 ELSE 0 END AS correct
    FROM pred p JOIN embeddings e ON e.vec_id = p.vec_id
    """,
)
def sim_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN classification over the approximate graph:
    each vector's label predicted by majority vote of its 5 nearest
    neighbors' labels (ties break to the smallest label id), emitted
    beside the true label — the standard embedding-quality probe (do
    nearby vectors share a label?) that doubles as a label-noise
    detector (correct=0 rows are either hard examples or mislabeled).
    Honest readout on THIS corpus: measured accuracy 0.089 at sf0.1 vs
    0.1 chance over 10 labels — the synthetic labels are independent of
    the embedding geometry, and the probe correctly says so (on a real
    corpus this is the number that climbs with embedding quality).
    LOO comes free: the kNN graph never pairs a vector with itself.
    Exact integer votes, no floats anywhere. Scale shape: rides the
    sim_knn_graph construction (bucketed, capped) plus two label joins
    keyed on vec_id and a k-bounded vote groupBy."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(emb)
    labels = emb.select("vec_id", "label")
    nb = knn.select("vec_id", "neighbor_id").join(
        labels.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nlabel"),
        ),
        "neighbor_id",
    )
    votes = nb.groupBy("vec_id", "nlabel").agg(F.count("*").alias("c"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("c"), F.asc("nlabel"))
    pred = (
        votes.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", F.col("nlabel").alias("pred_label"))
    )
    return pred.join(labels, "vec_id").select(
        "vec_id",
        F.col("label").alias("true_label"),
        "pred_label",
        (F.col("label") == F.col("pred_label")).cast("int").alias("correct"),
    )


@query(
    "sim_rrf_fusion",
    oracle=f"""
    WITH kw AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x = 'spark'))
                   AS tf,
               len({words_sql("text")}) AS n
        FROM documents
    ),
    krank AS (
        SELECT doc_id, rk AS kw_rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND(tf * 1.0 / n, 6) DESC, doc_id) AS rk
            FROM kw WHERE tf > 0
        ) WHERE rk <= 20
    ),"""
    + _norms_cte("nv")
    + f""",
    p AS (SELECT embedding AS pv, nsq AS psq FROM nv WHERE vec_id = 0),
    vrank AS (
        SELECT vec_id AS doc_id, rk AS vec_rank FROM (
            SELECT v.vec_id,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND({dot_sql("v.embedding", "p.pv")}
                                / SQRT(v.nsq * p.psq), 4) DESC,
                                v.vec_id) AS rk
            FROM nv v CROSS JOIN p
            WHERE v.vec_id != 0
        ) WHERE rk <= 20
    )
    SELECT doc_id, kw_rank, vec_rank, rrf6, CAST(rk AS BIGINT) AS rank
    FROM (
        SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
               k.kw_rank, v.vec_rank,
               ROUND(COALESCE(1.0 / (60 + k.kw_rank), 0.0)
                     + COALESCE(1.0 / (60 + v.vec_rank), 0.0), 6) AS rrf6,
               ROW_NUMBER() OVER (
                   ORDER BY ROUND(COALESCE(1.0 / (60 + k.kw_rank), 0.0)
                                  + COALESCE(1.0 / (60 + v.vec_rank), 0.0), 6)
                            DESC,
                            COALESCE(k.doc_id, v.doc_id)) AS rk
        FROM krank k FULL OUTER JOIN vrank v ON k.doc_id = v.doc_id
    ) WHERE rk <= 10
    """,
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009) — THE industry
    default for fusing keyword and vector retrieval without score
    calibration: each list contributes 1/(60 + rank), so scales never
    mix. Keyword side: normalized term frequency for the probe term
    'spark', top 20; vector side: exact cosine against probe vec 0, top
    20; fused top 10. Deterministic: ranks come from total orders
    ((score DESC, id)), and the fused score is a FIXED two-operand sum
    of exact-input divisions, rounded to 6 — no accumulation order
    exists. Scale shape: both arms end in bounded top-k (TakeOrdered);
    the fusion joins two 20-row lists — at 100 TB this is the
    per-query rerank tail, not a corpus operation."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ws = F.split(F.col("text"), " ")
    kw = docs.select(
        "doc_id",
        F.size(F.filter(ws, lambda x: x == "spark")).alias("tf"),
        F.size(F.filter(ws, lambda x: x != "")).alias("n"),
    ).filter(F.col("tf") > 0)
    krank = (
        kw.withColumn(
            "kw_rank",
            F.row_number().over(
                Window.orderBy(
                    F.desc(F.round(F.col("tf") * 1.0 / F.col("n"), 6)),
                    F.asc("doc_id"),
                )
            ),
        )
        .filter(F.col("kw_rank") <= 20)
        .select("doc_id", "kw_rank")
    )
    nv = emb.select(
        "vec_id", "embedding", S.norm_sq(F.col("embedding")).alias("nsq")
    )
    probe = nv.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("pv"), F.col("nsq").alias("psq")
    )
    vrank = (
        nv.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                S.dot(F.col("embedding"), F.col("pv"))
                / F.sqrt(F.col("nsq") * F.col("psq")),
                4,
            ).alias("cos4"),
        )
        .withColumn(
            "vec_rank",
            F.row_number().over(Window.orderBy(F.desc("cos4"), F.asc("doc_id"))),
        )
        .filter(F.col("vec_rank") <= 20)
        .select("doc_id", "vec_rank")
    )
    fused = krank.join(vrank, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(1.0 / (60 + F.col("kw_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("vec_rank")), F.lit(0.0)),
        6,
    )
    out = fused.select("doc_id", "kw_rank", "vec_rank", rrf.alias("rrf6"))
    return (
        out.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("rrf6"), F.asc("doc_id"))
            ).cast("long"),
        )
        .filter(F.col("rank") <= 10)
    )


#: The RESIDUAL IVF-PQ chain as DuckDB CTEs: IVF assign -> residual
#: vectors -> residual codebook/codes -> per-(query, probed-cell)
#: residual LUT -> cell-restricted ADC. Mirrors
#: operators/similarity.ivf_pq_residual_search step for step.
_IVF_PQ_RES_CTES = (
    _CENT_CTE
    + f""",
    cvecs AS (
        SELECT centroid_id,
               list_transform(centroid, x -> CAST(x AS DOUBLE)) AS cvec
        FROM cent
    ),
    rv AS (
        SELECT a.vec_id, a.centroid_id,
               list_transform(list_zip(e.embedding, cv.cvec),
                              x -> CAST(x[1] AS DOUBLE) - x[2]) AS rvec
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN cvecs cv ON cv.centroid_id = a.centroid_id
    ),
    rseeds AS (SELECT vec_id AS cid, rvec FROM rv ORDER BY vec_id LIMIT {S.PQ_K}),
    rsub AS (
        SELECT vec_id, CAST(t.s AS INTEGER) AS subspace,
               list_slice(rvec, s * {S.PQ_SUB} + 1, s * {S.PQ_SUB} + {S.PQ_SUB}) AS v8
        FROM rv, UNNEST(generate_series(0, {S.PQ_M - 1})) AS t(s)
    ),
    rcb AS (
        SELECT cid, CAST(t.s AS INTEGER) AS subspace,
               list_slice(rvec, s * {S.PQ_SUB} + 1, s * {S.PQ_SUB} + {S.PQ_SUB}) AS c8
        FROM rseeds, UNNEST(generate_series(0, {S.PQ_M - 1})) AS t(s)
    ),
    rscored AS (
        SELECT rsub.vec_id, rsub.subspace, rcb.cid,
               list_sum(list_transform(list_zip(rsub.v8, rcb.c8),
                        x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d2
        FROM rsub JOIN rcb ON rcb.subspace = rsub.subspace
    ),
    rcodes AS (
        SELECT vec_id, subspace, cid AS code FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                         ORDER BY d2, cid) AS rn
            FROM rscored
        ) WHERE rn = 1
    ),"""
    + _qprobe_cte()
    + f""",
    qres AS (
        SELECT qp.query_id, qp.centroid_id,
               list_transform(list_zip(e.embedding, cv.cvec),
                              x -> CAST(x[1] AS DOUBLE) - x[2]) AS qrvec
        FROM qprobe qp
        JOIN embeddings e ON e.vec_id = qp.query_id
        JOIN cvecs cv ON cv.centroid_id = qp.centroid_id
    ),
    qsub AS (
        SELECT query_id, centroid_id, CAST(t.s AS INTEGER) AS subspace,
               list_slice(qrvec, s * {S.PQ_SUB} + 1, s * {S.PQ_SUB} + {S.PQ_SUB}) AS p8
        FROM qres, UNNEST(generate_series(0, {S.PQ_M - 1})) AS t(s)
    ),
    rlut AS (
        SELECT q.query_id, q.centroid_id, q.subspace, rcb.cid AS code,
               CAST(ROUND(list_sum(list_transform(list_zip(q.p8, rcb.c8),
                        x -> (x[1] - x[2]) * (x[1] - x[2]))), 4)
                    AS DECIMAL(20,4)) AS pd2
        FROM qsub q JOIN rcb ON rcb.subspace = q.subspace
    ),
    rcand AS (
        SELECT q.query_id, q.centroid_id, a.vec_id
        FROM assign a JOIN qprobe q ON a.centroid_id = q.centroid_id
        WHERE q.query_id != a.vec_id
    ),
    radc AS (
        SELECT cd.query_id, cd.vec_id, SUM(l.pd2) AS adc_dec
        FROM rcand cd
        JOIN rcodes c ON c.vec_id = cd.vec_id
        JOIN rlut l ON l.query_id = cd.query_id
                   AND l.centroid_id = cd.centroid_id
                   AND l.subspace = c.subspace AND l.code = c.code
        GROUP BY cd.query_id, cd.vec_id
    )"""
)


@query(
    "sim_ivf_pq_res_topk",
    oracle="WITH "
    + _IVF_PQ_RES_CTES
    + _adc_top10_sql("radc"),
)
def sim_ivf_pq_res_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-encoded IVF-PQ search — the layout FAISS's IndexIVFPQ
    ships: PQ codes quantize v - c(cell) so the codebook covers only the
    within-cell spread, and each probed cell gets its own query-residual
    LUT. Both index structures stay deterministic, so the oracle
    rebuilds cells, residuals, codebook, codes and the per-cell LUTs
    bit-for-bit. See operators/similarity.ivf_pq_residual_search."""
    from odbc2parquet_spark.operators.similarity import ivf_pq_residual_search

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_residual_search(emb, emb.filter(F.col("vec_id") < 10))


@query(
    "sim_ivf_pq_res_recall",
    oracle="WITH "
    + _IVF_PQ_RES_CTES
    + ","
    + _recall10_sql("radc"),
)
def sim_ivf_pq_res_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the RESIDUAL IVF-PQ index vs the exact ground truth —
    the head-to-head readout against sim_ivf_pq_recall (raw-vector
    codes, same m/k/nprobe budget) that shows what residual encoding
    buys — and on THIS corpus the honest answer is: it hurts (measured
    0.59 vs 0.70 raw at sf0.1). The synthetic embeddings are
    near-uniform, so cells capture little structure and the residual of
    an uncorrelated vector carries MORE energy than the vector
    (||v - c||^2 ~ ||v||^2 + ||c||^2), which raises code distortion.
    Residual encoding wins exactly when the coarse quantizer explains
    real variance — the measurement that tells a deployment which
    layout to pick for ITS data, which is the point of shipping both.
    (Lloyd refinement does not change the verdict here: residual + 2
    Lloyd iterations measured 0.74 vs 0.78 for raw + Lloyd at the same
    budget.)"""
    from odbc2parquet_spark.operators.similarity import ivf_pq_residual_search

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    approx = ivf_pq_residual_search(emb, probes).select("query_id", "neighbor_id")
    return _recall10(emb, probes, approx)


@query(
    "sim_maxsim_topk",
    oracle=f"""
    WITH dw AS (
        SELECT DISTINCT doc_id, u AS w
        FROM (SELECT doc_id,
                     {words_sql("text")} AS ws
              FROM documents), UNNEST(ws) AS t(u)
    ),
    h AS (
        SELECT doc_id, w,
               {md5_long_sql("w", 4)} % 65536 AS h16
        FROM dw
    ),
    qt AS (
        SELECT w AS qw, h16 AS qh FROM h WHERE doc_id = 0
        ORDER BY w LIMIT 8
    ),
    best AS (
        SELECT h.doc_id, qt.qw, MIN(bit_count(xor(h.h16, qt.qh))) AS minpop
        FROM h CROSS JOIN qt
        GROUP BY h.doc_id, qt.qw
    ),
    scored AS (
        SELECT doc_id,
               SUM((16 - 2 * minpop) / 16.0) AS score
        FROM best GROUP BY doc_id
    )
    SELECT doc_id, CAST(score AS DOUBLE) AS score, CAST(rnk AS BIGINT) AS rank
    FROM (
        SELECT doc_id, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """,
)
def sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (the ColBERT MaxSim scoring shape):
    score(q, d) = sum over QUERY tokens of the max similarity to any
    DOCUMENT token — the operator that beats single-vector retrieval on
    multi-aspect queries because each query token finds its own best
    match. Token embeddings here are 16-bit signed-hash vectors, whose
    cosine is EXACTLY (16 - 2*hamming)/16 — so the whole MaxSim is
    integer popcount arithmetic and the per-query sum is a dyadic
    rational (sixteenths): bit-identical on any engine with NO rounding
    step anywhere. Query = the 8 lexicographically-first distinct
    tokens of doc 0.

    Scale shape — the factorization that makes late interaction
    tractable: documents contribute DISTINCT tokens only, the query
    side is a broadcast 8-row list, and the max runs per (doc, query
    token) as a map-side-partial MIN over popcounts; token vectors
    never shuffle (they are 16-bit ints). At 100 TB with a real
    learned-token index the same plan runs per IVF cell."""
    docs = load_table(spark, sf_dir, "documents")
    from odbc2parquet_spark.operators.text import words

    dw = docs.select(
        "doc_id", F.explode(words(F.col("text"))).alias("w")
    ).distinct()
    h = dw.select(
        "doc_id",
        "w",
        (md5_long("w", 4) % 65536).alias("h16"),
    )
    qt = (
        h.filter(F.col("doc_id") == 0)
        .orderBy("w")
        .limit(8)
        .select(F.col("w").alias("qw"), F.col("h16").alias("qh"))
    )
    best = (
        h.crossJoin(F.broadcast(qt))
        .select(
            "doc_id",
            "qw",
            F.bit_count(F.col("h16").bitwiseXOR(F.col("qh"))).alias("pop"),
        )
        .groupBy("doc_id", "qw")
        .agg(F.min("pop").alias("minpop"))
    )
    scored = best.groupBy("doc_id").agg(
        F.sum((16 - 2 * F.col("minpop")) / F.lit(16.0)).alias("score")
    )
    return (
        scored.withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .cast("long"),
        )
        .filter(F.col("rank") <= 10)
        .select("doc_id", F.col("score").cast("double").alias("score"), "rank")
    )


def _hits_iter_sql(i: int) -> str:
    prev_a = f"a{i - 1}"
    return f"""
    h{i} AS (
        SELECT e.vec_id AS id, CAST(COALESCE(s.s, 0) AS BIGINT) AS score
        FROM embeddings e LEFT JOIN (
            SELECT sym.src AS id, SUM(a.score) AS s
            FROM sym JOIN {prev_a} a ON a.id = sym.dst GROUP BY sym.src
        ) s ON s.id = e.vec_id
    ),
    a{i} AS (
        SELECT e.vec_id AS id, CAST(COALESCE(s.s, 0) AS BIGINT) AS score
        FROM embeddings e LEFT JOIN (
            SELECT sym.dst AS id, SUM(h.score) AS s
            FROM sym JOIN h{i} h ON h.id = sym.src GROUP BY sym.dst
        ) s ON s.id = e.vec_id
    )"""


@query(
    "sim_hits",
    oracle=f"""
    WITH {_SYM_CTE},
    a0 AS (SELECT vec_id AS id, CAST(1 AS BIGINT) AS score FROM embeddings),
    {",".join(_hits_iter_sql(i) for i in range(1, 3)).lstrip(",")}
    SELECT h2.id, h2.score AS hub, a2.score AS auth
    FROM h2 JOIN a2 ON a2.id = h2.id
    """,
)
def sim_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (2 full rounds, UNNORMALIZED exact int64 —
    operators/graph.hits_int) over the LSH similarity graph: the
    mutual-reinforcement centrality that separates "connector" documents
    (hubs pointing into many strong clusters) from "core" documents
    (authorities many hubs select) — a curation signal PageRank's single
    score conflates. Skipping the L2 normalization keeps every update an
    int64 sum (rank order is unchanged — normalization is a positive
    scalar), so the Spark fixpoint and the oracle's unrolled rounds agree
    bit-for-bit. Same bounded LSH edge list as sim_pagerank; each
    half-round is one keyed join + groupBy over it."""
    from odbc2parquet_spark.operators.graph import hits_int

    emb = load_table(spark, sf_dir, "embeddings")
    sym = _lsh_graph_edges(spark, sf_dir)
    nodes = emb.select(F.col("vec_id").alias("id"))
    return hits_int(nodes, sym)


def _lpa_iter_sql(i: int) -> str:
    prev = f"l{i - 1}"
    return f"""
    c{i} AS (
        SELECT sym.dst AS id, l.label, COUNT(*) AS cnt
        FROM sym JOIN {prev} l ON l.id = sym.src GROUP BY 1, 2
    ),
    w{i} AS (
        SELECT id, label FROM (
            SELECT id, label,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY cnt DESC, label ASC) AS rk
            FROM c{i}
        ) WHERE rk = 1
    ),
    l{i} AS (
        SELECT p.id, CAST(COALESCE(w{i}.label, p.label) AS BIGINT) AS label
        FROM {prev} p LEFT JOIN w{i} ON w{i}.id = p.id
    )"""


@query(
    "sim_lpa_communities",
    oracle=f"""
    WITH {_SYM_CTE},
    l0 AS (SELECT vec_id AS id, CAST(vec_id AS BIGINT) AS label FROM embeddings),
    {",".join(_lpa_iter_sql(i) for i in range(1, 4)).lstrip(",")}
    SELECT id, label FROM l3
    """,
)
def sim_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (3 synchronous rounds, deterministic
    count-desc/label-asc tie-break — operators/graph.
    label_propagation_int) over the LSH similarity graph: topical groups
    COARSER than near-dup components (which need an actual duplicate
    path) but finer than the connected graph — the grouping curation
    uses for topic caps and mixture audits. The synchronous update +
    deterministic tie-break turn Raghavan et al.'s randomized algorithm
    into a pure function of the edge set, so three unrolled SQL rounds
    reproduce the Spark fixpoint exactly. Per round: one edge join, one
    (node, label) count, one per-node argmax window — all keyed,
    edge-list-sized."""
    from odbc2parquet_spark.operators.graph import label_propagation_int

    emb = load_table(spark, sf_dir, "embeddings")
    sym = _lsh_graph_edges(spark, sf_dir)
    nodes = emb.select(F.col("vec_id").alias("id"))
    return label_propagation_int(nodes, sym)


@query(
    "sim_clustering_coeff",
    oracle="WITH "
    + _LSH_BUCKETS_CTE
    + """,
    edges AS MATERIALIZED (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    deg AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT id_a AS id FROM edges
              UNION ALL SELECT id_b FROM edges)
        GROUP BY id HAVING COUNT(*) >= 2
    ),
    tri AS (
        SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        FROM edges e1
        JOIN edges e2 ON e1.id_b = e2.id_a
        JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    tcnt AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (SELECT unnest([a, b, c]) AS id FROM tri)
        GROUP BY id
    )
    SELECT d.id, d.degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           ROUND(2.0 * COALESCE(t.n_triangles, 0)
                 / (d.degree * (d.degree - 1)), 6) AS coeff6
    FROM deg d LEFT JOIN tcnt t ON t.id = d.id
    """,
)
def sim_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the LSH bucket graph (operators/
    graph.clustering_coefficient): the wedge-closure density that
    separates genuine near-dup COMMUNITIES (neighbors know each other,
    coeff -> 1) from hub-and-spoke false-positive buckets (coeff -> 0) —
    the QA readout on top of sim_triangle_count's raw counts, and the
    per-node complement to sim_lpa_communities' labels. Same canonical
    a<b<c triangle join (two equi-joins, sum(deg^2) wedge budget) plus
    one symmetric degree count; the coefficient is a per-node scalar."""
    from odbc2parquet_spark.operators.graph import clustering_coefficient

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = _lsh_graph_pairs(spark, sf_dir)
    return clustering_coefficient(pairs)


@query(
    "sim_cell_medoids",
    oracle="WITH "
    + _CENT_CTE
    + f""",
    mem AS MATERIALIZED (
        SELECT a.vec_id, a.centroid_id, e.embedding,
               ROW_NUMBER() OVER (
                   PARTITION BY a.centroid_id
                   ORDER BY {md5_long_sql("CAST(a.vec_id AS VARCHAR)")},
                       a.vec_id
               ) AS srk
        FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
    ),
    samp AS (SELECT * FROM mem WHERE srk <= 128),
    pd AS (
        SELECT x.centroid_id, x.vec_id,
               CAST(ROUND(list_sum(list_transform(
                        list_zip(x.embedding, y.embedding),
                        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                             * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    )), 4) AS DECIMAL(20,4)) AS d2
        FROM samp x JOIN samp y ON x.centroid_id = y.centroid_id
    ),
    sums AS (
        SELECT centroid_id, vec_id,
               CAST(SUM(d2) AS DOUBLE) AS sum_d2
        FROM pd GROUP BY 1, 2
    ),
    nm AS (
        SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM mem GROUP BY 1
    )
    SELECT s.centroid_id, s.vec_id AS medoid_id, nm.n_members, s.sum_d2
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY centroid_id
                                     ORDER BY sum_d2 ASC, vec_id ASC) AS rk
        FROM sums
    ) s JOIN nm ON nm.centroid_id = s.centroid_id
    WHERE s.rk = 1
    """,
)
def sim_cell_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-IVF-cell MEDOID — the robust exemplar (member minimizing the
    summed squared distance to its cell-mates) that labels a semantic
    cell with a real document instead of sim_label_centroids' synthetic
    mean: the representative-pick step of SemDeDup-style keep-one-per-
    cluster and of human-readable cluster audits, outlier-proof where a
    mean is not. Distances quantize to 4 decimals and sum as
    DECIMAL(20,4) (order-independent), argmin ties break to the lowest
    id. The pairwise pass is per-CELL (an equi-join on the cell id,
    never corpus x corpus) AND capped at a deterministic 128-member
    hash sample per cell — the standard O(n) medoid approximation,
    IMPLEMENTED, not promised: uncapped, the second decade measured
    20.6x (occupancy grows linearly, pairs quadratically); capped, the
    pass is bounded at 128^2 rows per cell at any corpus size. Below
    the cap the sample IS the cell, so small-scale results are the
    exact medoid."""
    emb = load_table(spark, sf_dir, "embeddings")
    cell = S.ivf_assign(emb, S.ivf_seed_centroids(emb)).select(
        "vec_id", "centroid_id"
    )
    mem = emb.select("vec_id", "embedding").join(cell, "vec_id")
    # per-cell deterministic hash sample: the pairwise pass is bounded at
    # 128^2 per cell NO MATTER the occupancy — measured 20.6x at the
    # second decade uncapped, linear with the cap
    srk = F.row_number().over(
        Window.partitionBy("centroid_id").orderBy(
            md5_long(F.col("vec_id").cast("string")),
            F.col("vec_id"),
        )
    )
    n_mem = mem.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    # the unrolled d2 chain below reads fixed positions with F.get, which
    # yields NULL (not an error) for a short array — and a NULL sum_d2
    # would sort FIRST under asc and silently become the medoid. Assert
    # the width up front instead (codegen'd comparison, free when it
    # holds; raises on a corrupt row).
    samp = mem.withColumn(
        "embedding",
        S._checked_dim(F.col("embedding"), "sim_cell_medoids"),
    ).withColumn("srk", srk).filter(F.col("srk") <= 128)
    x = samp.select(
        F.col("centroid_id"),
        F.col("vec_id"),
        F.col("embedding").alias("va"),
    ).alias("x")
    y = samp.select(
        F.col("centroid_id").alias("cy"),
        F.col("embedding").alias("vb"),
    ).alias("y")
    # unrolled codegen chain (same left-fold order as the zip_with +
    # _fold_sum it replaces): this is the one expression in the family
    # hot enough for the unroll trade (239k pairs x 64 dims behind one
    # action — see operators/similarity._fold_sum for the measured
    # planning-vs-execution break-even)
    d2_expr = F.lit(0.0)
    for _k in range(S.DIM):
        _d = F.get(F.col("va"), F.lit(_k)).cast("double") - F.get(
            F.col("vb"), F.lit(_k)
        ).cast("double")
        d2_expr = d2_expr + _d * _d
    pd_ = x.join(y, F.col("centroid_id") == F.col("cy")).select(
        "centroid_id",
        "vec_id",
        F.round(d2_expr, 4).cast("decimal(20,4)").alias("d2"),
    )
    sums = pd_.groupBy("centroid_id", "vec_id").agg(
        F.sum("d2").cast("double").alias("sum_d2"),
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.asc("sum_d2"), F.asc("vec_id")
    )
    return (
        sums.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(n_mem, "centroid_id")
        .select(
            "centroid_id",
            F.col("vec_id").alias("medoid_id"),
            "n_members",
            "sum_d2",
        )
    )


def _delta_scored_ctes(delta: str, scored: str) -> str:
    """CTEs ``cent`` and ``nc``: the IVF centroids seeded from the old
    corpus (vec_id < 400); ``delta``: the new vectors (vec_id >= 400) with
    their squared norms; ``scored``: the cos4 of every new vector to every
    centroid."""
    return (
        _centroids_cte(" WHERE vec_id < 400")
        + ","
        + _norms_cte(delta, " WHERE vec_id >= 400")
        + ","
        + _cos4_cte(scored, delta)
    )


@query(
    "sim_ivf_delta_assign",
    oracle=f"""
    WITH {_delta_scored_ctes("delta", "scored")}
    SELECT vec_id, centroid_id, cos4 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cos4 DESC, centroid_id) AS rnk
        FROM scored
    ) WHERE rnk = 1
    """,
)
def sim_ivf_delta_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index MAINTENANCE: a new ingest batch (vec_id >=
    400 — the delta) is routed to the EXISTING index's centroids (seeded
    from the old corpus only, vec_id < 400) without touching the old
    codes — the update path that makes an ANN index operable at 100 TB,
    where "re-run the build" is not an option. Because ivf_assign is a
    pure per-vector function of the centroid set, the delta assignment
    is bit-identical to what a full rebuild over old+new would give
    those vectors (same broadcast-map pass, same packed argmax) — the
    property that makes the incremental path SAFE, pinned by test. One
    broadcast join over the delta only; the old corpus is never read."""
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    cents = S.ivf_seed_centroids(old)
    return S.ivf_assign(delta, cents)


@query(
    "sim_cluster_purity",
    oracle="WITH "
    + _CENT_CTE
    + """,
    lab AS (
        SELECT a.centroid_id, e.label
        FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
    ),
    cl AS (
        SELECT centroid_id, label, CAST(COUNT(*) AS BIGINT) AS c
        FROM lab GROUP BY 1, 2
    ),
    nm AS (SELECT centroid_id, CAST(SUM(c) AS BIGINT) AS n FROM cl GROUP BY 1),
    top AS (
        SELECT centroid_id, label AS majority_label, c AS majority_n
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY centroid_id
                                         ORDER BY c DESC, label ASC) AS rk
            FROM cl
        ) WHERE rk = 1
    ),
    ent AS (
        SELECT cl.centroid_id,
               CAST(SUM(CAST(ROUND(-(cl.c * 1.0 / nm.n)
                                   * LN(cl.c * 1.0 / nm.n), 6)
                             AS DECIMAL(18,6))) AS DOUBLE) AS entropy6
        FROM cl JOIN nm ON nm.centroid_id = cl.centroid_id
        GROUP BY cl.centroid_id
    )
    SELECT t.centroid_id, nm.n AS n_members, t.majority_label, t.majority_n,
           ROUND(t.majority_n * 1.0 / nm.n, 6) AS purity6, e.entropy6
    FROM top t
    JOIN nm ON nm.centroid_id = t.centroid_id
    JOIN ent e ON e.centroid_id = t.centroid_id
    """,
)
def sim_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label PURITY and entropy per IVF cell — the semantic half of the
    clustering-QA pair (sim_silhouette measures geometry; purity measures
    whether cells align with the labels downstream sampling/eval will
    stratify on): majority-label fraction + label entropy per cell, the
    readout that decides if cell-level dedup caps (dd_semantic_cells) or
    cell-stratified eval splits are safe. Two bounded aggregations over
    (cell, label) counts; entropy terms round to 6 then sum as DECIMAL
    (order-independent); majority argmax ties break to the lowest
    label."""
    emb = load_table(spark, sf_dir, "embeddings")
    cell = S.ivf_assign(emb, S.ivf_seed_centroids(emb)).select(
        "vec_id", "centroid_id"
    )
    lab = emb.select("vec_id", "label").join(cell, "vec_id")
    cl = lab.groupBy("centroid_id", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    nm = cl.groupBy("centroid_id").agg(F.sum("c").alias("n"))
    w = Window.partitionBy("centroid_id").orderBy(F.desc("c"), F.asc("label"))
    top = (
        cl.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "centroid_id",
            F.col("label").alias("majority_label"),
            F.col("c").alias("majority_n"),
        )
    )
    ent = (
        cl.join(nm, "centroid_id")
        .select(
            "centroid_id",
            F.round(
                -(F.col("c") * 1.0 / F.col("n"))
                * F.log(F.col("c") * 1.0 / F.col("n")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("term"),
        )
        .groupBy("centroid_id")
        .agg(F.sum("term").cast("double").alias("entropy6"))
    )
    return (
        top.join(nm, "centroid_id")
        .join(ent, "centroid_id")
        .select(
            "centroid_id",
            F.col("n").alias("n_members"),
            "majority_label",
            "majority_n",
            F.round(F.col("majority_n") * 1.0 / F.col("n"), 6).alias(
                "purity6"
            ),
            "entropy6",
        )
    )


@query(
    "sim_embedding_profile",
    oracle=f"""
    WITH n AS (
        SELECT vec_id,
               CAST(len(embedding) AS INTEGER) AS dim,
               ROUND(SQRT({norm_sq_sql("embedding")}), 6)
                   AS norm6,
               CAST(len(list_filter(embedding, x -> x = 0.0)) AS BIGINT)
                   AS n_zero_comp
        FROM embeddings
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MIN(norm6) AS min_norm6,
           MAX(norm6) AS max_norm6,
           ROUND(CAST(SUM(CAST(norm6 AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_norm6,
           CAST(SUM(CASE WHEN norm6 = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_vecs,
           CAST(SUM(n_zero_comp) AS BIGINT) AS n_zero_components
    FROM n GROUP BY dim
    """,
)
def sim_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column QA PROFILE — the ingest gate an ANN/semantic
    pipeline runs before building any index: per dimensionality (a mixed
    dim is itself a defect every downstream kernel here would raise on),
    the vector count, norm range and mean, zero-vector count (dead
    encoder outputs that poison cosine math) and zero-component mass
    (dimension collapse). Norms round to 6 then sum as DECIMAL — the one
    scan, one bounded groupBy shape of q_profile_lineitem applied to
    vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm6 = F.round(F.sqrt(S.norm_sq(F.col("embedding"))), 6)
    n = emb.select(
        F.size("embedding").alias("dim"),
        norm6.alias("norm6"),
        F.size(F.filter(F.col("embedding"), lambda x: x == 0.0))
        .cast("long")
        .alias("n_zero_comp"),
    )
    return n.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("norm6").alias("min_norm6"),
        F.max("norm6").alias("max_norm6"),
        F.round(
            F.sum(F.col("norm6").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_norm6"),
        F.sum(F.when(F.col("norm6") == 0.0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_vecs"),
        F.sum("n_zero_comp").cast("long").alias("n_zero_components"),
    )
