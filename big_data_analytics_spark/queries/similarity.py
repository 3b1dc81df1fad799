"""Similarity search over the ``embeddings`` table (array<float> column).

Brute-force cosine top-k is the correctness baseline; the scale path
(LSH-bucketed / IVF-style candidate pruning) lives in
``big_data_analytics_spark.operators.similarity`` and is validated
against this baseline in tests/.

Engine-portability notes baked into the queries:
- vectors are cast FLOAT[] → DOUBLE[] before any arithmetic;
- cosine is rounded to 6 dp *before* ranking, with a neighbor-id
  tie-break, so the top-k boundary is deterministic across engines
  (dot-product fold order differs by ~1 ulp between engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.queries import query
from big_data_analytics_spark.caching import session_memo
from big_data_analytics_spark.operators.partitioning import spread_if_undersplit
from big_data_analytics_spark.operators.similarity import (
    EMBEDDING_DIM,
    cosine,
    dot,
    l2_norm,
    sq_l2,
)

#: vec_ids below this bound act as the "query set"; the rest are corpus.
N_QUERY_VECS = 3
TOP_K = 5


# --------------------------------------------------------------------
# V1 — brute-force cosine top-k (ANN correctness baseline).
# --------------------------------------------------------------------
@query(
    "v1_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < {N_QUERY_VECS}),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id >= {N_QUERY_VECS}),
         scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_dot_product(q.v, c.v)
                     / (sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
        FROM q, c
    )
    SELECT query_id, neighbor_id, cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def v1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest neighbors by cosine: broadcast the (small) query
    set against the corpus, score with a JVM-side array fold (no Python
    UDF), rank per query. At 100 TB the corpus side stays partitioned
    and only local top-k per partition shuffles (window over the tiny
    query_id key-space after per-partition pruning by Catalyst's
    WindowGroupLimit).

    Norms are computed ONCE per row (r15; previously re-folded inside
    every pair expression, 3× the fold work per corpus row): the pair
    value sqrt(dot(x,x)) is a pure function of the row, so caching it
    in a projected column leaves every IEEE operation and therefore
    every cosine BIT-IDENTICAL to the oracle's per-pair form — only
    the evaluation count changes."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        l2_norm(F.col("v")).alias("qn")
    )
    c = emb.filter(F.col("vec_id") >= N_QUERY_VECS).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        l2_norm(F.col("v")).alias("cn")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id", "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine")
    )


# --------------------------------------------------------------------
# V2 — pairwise label-centroid similarity: grouped vector aggregation.
# --------------------------------------------------------------------
@query(
    "v2_label_centroid_norms",
    oracle="""
    WITH per_dim AS (
        SELECT label, i AS dim,
               SUM(embedding[i]::DOUBLE) AS s,
               COUNT(*) AS n_dim
        FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
        GROUP BY label, i
    )
    SELECT label, MAX(n_dim) AS n,
           ROUND(sqrt(SUM(pow(s / n_dim, 2))), 6) AS centroid_norm
    FROM per_dim GROUP BY label
    """,
)
def v2_label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (element-wise mean of 64-dim vectors) and its
    L2 norm — grouped vector aggregation via posexplode + pivot-free
    re-assembly. The shuffle key is (label, dim): 64× fan-out but each
    partial is a scalar sum, so it scales like any hash aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    per_dim = exploded.groupBy("label", "dim").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n_dim")
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("n_dim").alias("n"),
            F.round(
                F.sqrt(F.sum(F.pow(F.col("s") / F.col("n_dim"), 2))), 6
            ).alias("centroid_norm"),
        )
        .select("label", "n", "centroid_norm")
    )


#: deterministic coarse quantizer: centroids are the corpus vectors with
#: vec_id % CELL_STRIDE == CELL_PHASE (≈ n/31 cells, grows with data).
CELL_STRIDE = 31
CELL_PHASE = 7
N_PROBE = 4

_IVF_COS = (
    "ROUND(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)


# --------------------------------------------------------------------
# V3 — IVF (inverted-file) ANN with a deterministic coarse quantizer,
# so the whole index build + probe is oracle-checkable in SQL.
# --------------------------------------------------------------------

def _cos6(a, b, na, nb):
    """Cosine from precomputed norms, rounded to 6 dp (engine-portable
    ranking key)."""
    return F.round(dot(a, b) / (na * nb), 6)


def _ivf_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(vectors with their norms, centroid cells) for the IVF index."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("vn", l2_norm(F.col("v")))
    cent = emb.filter(F.col("vec_id") % CELL_STRIDE == CELL_PHASE).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"),
        F.col("vn").alias("cn"),
    )
    return emb, cent


@session_memo
def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index: nearest cell per corpus vector. It is the
    persisted index in production (ivf_write partitions it by cell), so
    it is built once and localCheckpoint'd: warm probes pay probe +
    rerank only. max_by over a struct (cosine, -cell_id) == "highest
    cosine, then lowest cell_id" — a map-side-combinable aggregate,
    not a window over the corpus."""
    emb, cent = _ivf_inputs(spark, sf_dir)
    # The assignment cross-join amplifies every corpus row by
    # n_cells (= n/31, grows with the corpus) interpreted 64-wide
    # folds, but the embeddings parquet arrives as ~1 input split —
    # so without an explicit repartition the whole O(n * n_cells)
    # fan-out serializes onto one task (measured: 104 s cold at a
    # 20k-vector corpus vs ~7 s repartitioned). Same rule as cf1 /
    # ml17 (SCALE.md): partition count must be sized for the
    # OUTPUT of an amplifying expression, and AQE cannot see the
    # fan-out because it sizes by input bytes.
    para = spark.sparkContext.defaultParallelism
    corpus = (emb.filter(F.col("vec_id") >= N_QUERY_VECS)
              .repartition(para))
    return (
        corpus.crossJoin(F.broadcast(cent))
        .withColumn("cos_c", _cos6(F.col("v"), F.col("cv"),
                                   F.col("vn"), F.col("cn")))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cell_id"),
                F.struct(F.col("cos_c"),
                         (-F.col("cell_id")).alias("neg")),
            ).alias("cell_id"),
            F.first("v").alias("v"),
            F.first("vn").alias("vn"),
        )
    ).localCheckpoint()


@query(
    "v3_ivf_topk",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id % {CELL_STRIDE} = {CELL_PHASE}
    ),
    corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id >= {N_QUERY_VECS}
    ),
    q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    assigned AS (
        SELECT vec_id, v, cell_id FROM (
            SELECT corpus.vec_id, corpus.v, cent.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY corpus.vec_id
                       ORDER BY {_IVF_COS.format(a="corpus.v", b="cent.cv")}
                                DESC, cent.cell_id
                   ) AS rn
            FROM corpus, cent) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cell_id, qv FROM (
            SELECT q.query_id, cent.cell_id, q.qv,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_IVF_COS.format(a="q.qv", b="cent.cv")}
                                DESC, cent.cell_id
                   ) AS rn
            FROM q, cent) WHERE rn <= {N_PROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_IVF_COS.format(a="a.v", b="p.qv")} AS cosine
        FROM probes p JOIN assigned a USING (cell_id)
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= {TOP_K}
    """,
)
def v3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, fully oracle-checked: centroids are a deterministic id
    slice of the corpus (stride {CELL_STRIDE}), each corpus vector is
    assigned to its max-cosine cell via a broadcast of the tiny
    centroid set + map-side ``max_by`` (no window shuffle over the
    corpus), queries probe their {N_PROBE} best cells, and only those
    cells' vectors are exactly reranked. At 100 TB the assigned table
    is written partitioned by ``cell`` so a probe's scan prunes to
    nprobe/n_cells of the data; here the assignment is session-cached
    (_ivf_assigned — it IS the index), so repeated probes pay only the
    probe-side work, and the probe plan shows the same shape
    (broadcast joins, corpus never shuffled for ranking —
    WindowGroupLimit prunes top-k per partition).

    Norms are computed once per row, not once per pair: the pair
    expression is only the dot product divided by the two cached
    norms — identical floats (same sqrt(dot(x,x)) expression, just
    not re-evaluated |pairs| times), ~3× less arithmetic in both
    cross-join stages."""
    emb, cent = _ivf_inputs(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )

    assigned = _ivf_assigned(spark, sf_dir)
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("cos_c", _cos6(F.col("qv"), F.col("cv"),
                                   F.col("qn"), F.col("cn")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.desc("cos_c"), F.asc("cell_id"))
            ),
        )
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "cell_id", "qv", "qn")
    )
    scored = assigned.join(F.broadcast(probes), "cell_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos6(F.col("v"), F.col("qv"), F.col("vn"), F.col("qn"))
        .alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine")
    )


# --------------------------------------------------------------------
# V5 — scalar-quantization (SQ8) ANN: compress-then-search with
# asymmetric distance, candidate top-k on reconstructed vectors, exact
# rerank. Deterministic codebook (per-dimension min/max), so the whole
# quantize → approx-rank → rerank pipeline is oracle-checkable.
# --------------------------------------------------------------------

SQ_CAND = 25

_SQ_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ), c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id >= {N_QUERY_VECS}
    ), stats AS (
        SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
        FROM c, unnest(generate_series(1, {EMBEDDING_DIM})) AS t(i)
        GROUP BY i
    ), packed AS (
        SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        FROM stats
    ), coded AS (
        SELECT c.vec_id, c.v,
               list_transform(generate_series(1, {EMBEDDING_DIM}), i ->
                   mns[i] + (CASE WHEN mxs[i] = mns[i] THEN 0.0
                             ELSE least(255.0, greatest(0.0,
                                  floor((v[i] - mns[i])
                                        / (mxs[i] - mns[i]) * 256))) END
                             + 0.5) * (mxs[i] - mns[i]) / 256) AS rv
        FROM c, packed
    ), approx AS (
        SELECT q.query_id, coded.vec_id AS neighbor_id, coded.v, q.qv,
               ROUND(list_dot_product(q.qv, coded.rv)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(coded.rv, coded.rv))),
                     6) AS ascore
        FROM q, coded
    ), cand AS (
        SELECT query_id, neighbor_id, v, qv FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY ascore DESC, neighbor_id) AS rn
            FROM approx) WHERE rn <= {SQ_CAND}
    ), exact AS (
        SELECT query_id, neighbor_id,
               ROUND(list_dot_product(qv, v)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(v, v))), 6) AS cosine
        FROM cand
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM exact) WHERE rn <= {TOP_K}
"""


@query("v5_sq_topk", oracle=_SQ_ORACLE)
def v5_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization ANN: per-dimension [min, max] over the
    corpus defines a 256-level uniform grid (the codebook — two
    64-float arrays, bytes per vector at rest vs 8 bytes/dim raw);
    approximate scores are computed asymmetrically (full-precision
    query against reconstructed bin centers), the top {SQ_CAND}
    candidates per query are exactly reranked, top {TOP_K} emitted.

    The codebook is computed IN-PLAN (posexplode → per-dim min/max →
    collect_list into two arrays on a single row → broadcast cross
    join) — no driver collect, unlike a trained k-means codebook. At
    100 TB: the stats pass is one map-side-combinable aggregate with
    {EMBEDDING_DIM} groups; codes are 16× smaller than the raw vectors,
    so the scan side of every probe shrinks by that factor; reconstruction
    is a per-row expression, never a shuffle. Complements v3 (IVF
    prunes WHICH vectors are scored; SQ shrinks the COST of scoring
    each one — production engines stack them)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    corpus = emb.filter(F.col("vec_id") >= N_QUERY_VECS)
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))

    stats = (corpus.select(F.posexplode("v").alias("dim", "x"))
             .groupBy("dim")
             .agg(F.min("x").alias("mn"), F.max("x").alias("mx")))
    packed = (
        stats.agg(F.array_sort(
            F.collect_list(F.struct("dim", "mn", "mx"))).alias("s"))
        .select(F.transform("s", lambda t: t["mn"]).alias("mns"),
                F.transform("s", lambda t: t["mx"]).alias("mxs"))
    )

    def _recon(x, i):
        mn = F.element_at(F.col("mns"), i + 1)
        mx = F.element_at(F.col("mxs"), i + 1)
        code = F.when(mx == mn, F.lit(0.0)).otherwise(
            F.least(F.lit(255.0), F.greatest(
                F.lit(0.0), F.floor((x - mn) / (mx - mn) * 256))))
        return mn + (code + 0.5) * (mx - mn) / 256

    coded = (corpus.crossJoin(F.broadcast(packed))
             .select("vec_id", "v",
                     F.transform("v", _recon).alias("rv")))
    approx = (
        coded.crossJoin(F.broadcast(q))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "v", "qv", "qn",
            F.round(
                dot(F.col("qv"), F.col("rv"))
                / (F.col("qn") * l2_norm(F.col("rv"))),
                6).alias("ascore"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("ascore"), F.asc("neighbor_id"))
    cand = (approx.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") <= SQ_CAND)
            .select("query_id", "neighbor_id", "v", "qv", "qn"))
    exact = cand.select(
        "query_id", "neighbor_id",
        F.round(
            dot(F.col("qv"), F.col("v"))
            / (F.col("qn") * l2_norm(F.col("v"))),
            6).alias("cosine"),
    )
    we = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (exact.withColumn("rn", F.row_number().over(we))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "neighbor_id", "cosine"))


# --------------------------------------------------------------------
# V6 — product quantization (PQ) ANN with a deterministic codebook and
# asymmetric-distance (ADC) scoring, fully oracle-checkable: codewords
# are an id-slice of the corpus (the v3 trick applied to PQ), encoding
# is per-subspace argmin, scoring sums per-subspace distance-table
# lookups, and the top candidates are exactly reranked.
# --------------------------------------------------------------------

M_SUB = 8        # subspaces
SUB_DIM = 8      # dims per subspace (8×8 = 64)
K_CODE = 16      # codewords per subspace
PQ_CAND = 25

#: codebook source vectors: the K_CODE lowest corpus ids.
_CB_LO = N_QUERY_VECS
_CB_HI = N_QUERY_VECS + K_CODE

_PQ_L2 = ("ROUND(list_sum(list_transform(generate_series(1, {d}), i ->"
          " ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)")

_PQ_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ), c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id >= {N_QUERY_VECS}
    ), cb AS (
        SELECT vec_id - {_CB_LO} AS j, embedding::DOUBLE[] AS v
        FROM embeddings
        WHERE vec_id >= {_CB_LO} AND vec_id < {_CB_HI}
    ), subs AS (
        SELECT unnest(generate_series(0, {M_SUB - 1})) AS s
    ), csub AS (
        SELECT c.vec_id, subs.s,
               c.v[subs.s * {SUB_DIM} + 1 : subs.s * {SUB_DIM} + {SUB_DIM}]
                   AS sub
        FROM c, subs
    ), cbsub AS (
        SELECT cb.j, subs.s,
               cb.v[subs.s * {SUB_DIM} + 1 : subs.s * {SUB_DIM} + {SUB_DIM}]
                   AS sub
        FROM cb, subs
    ), enc AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT csub.vec_id, csub.s, cbsub.j,
                   ROW_NUMBER() OVER (
                       PARTITION BY csub.vec_id, csub.s
                       ORDER BY {_PQ_L2.format(d=SUB_DIM, a="csub.sub",
                                               b="cbsub.sub")} ASC,
                                cbsub.j ASC) AS rn
            FROM csub JOIN cbsub USING (s)) WHERE rn = 1
    ), qsub AS (
        SELECT q.query_id, subs.s,
               q.qv[subs.s * {SUB_DIM} + 1 : subs.s * {SUB_DIM} + {SUB_DIM}]
                   AS sub
        FROM q, subs
    ), dtab AS (
        SELECT qsub.query_id, qsub.s, cbsub.j,
               {_PQ_L2.format(d=SUB_DIM, a="qsub.sub", b="cbsub.sub")} AS dq
        FROM qsub JOIN cbsub USING (s)
    ), adist AS (
        SELECT d.query_id, e.vec_id AS neighbor_id, SUM(d.dq) AS ad
        FROM enc e JOIN dtab d ON e.s = d.s AND e.code = d.j
        GROUP BY d.query_id, e.vec_id
    ), cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY ad ASC, neighbor_id ASC) AS rn
            FROM adist) WHERE rn <= {PQ_CAND}
    ), exact AS (
        SELECT cand.query_id, cand.neighbor_id,
               ROUND(list_dot_product(q.qv, c.v)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
        FROM cand
        JOIN q ON q.query_id = cand.query_id
        JOIN c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM exact) WHERE rn <= {TOP_K}
"""


@query("v6_pq_adc_topk", oracle=_PQ_ORACLE)
def v6_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN with asymmetric-distance scoring, driver-graded: 64-dim
    vectors split into {M_SUB} subspaces of {SUB_DIM} dims; each
    subvector encodes to its nearest of {K_CODE} codewords (1 byte of
    {M_SUB} per vector — 64× smaller than raw); per query, a
    {M_SUB}×{K_CODE} distance table is computed ONCE and scoring a
    candidate is {M_SUB} table lookups + a sum, never a vector read.
    Top {PQ_CAND} by ADC distance are exactly reranked.

    The codebook is a deterministic id-slice of the corpus (the same
    move that makes v3's IVF quantizer oracle-checkable) instead of
    per-subspace k-means — same dataflow, portable truth; the trained
    variant lives in operators/similarity.py:pq_build. Scale: the
    encode pass is corpus × {M_SUB} rows against a broadcast
    {M_SUB * K_CODE}-row codebook (map-side min_by, no shuffle of
    vectors); ADC is a broadcast join of the per-query table against
    codes, partial-aggregated per (query, vector). With v3 (prune
    cells) and v5 (shrink scans) this completes the production
    IVF/SQ/PQ toolkit, every layer hash-graded."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    corpus = emb.filter(F.col("vec_id") >= N_QUERY_VECS)
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    cb = emb.filter((F.col("vec_id") >= _CB_LO)
                    & (F.col("vec_id") < _CB_HI)).select(
        (F.col("vec_id") - _CB_LO).alias("j"), "v")

    def subspaces(df, id_cols, vec):
        chunks = F.transform(
            F.sequence(F.lit(0), F.lit(M_SUB - 1)),
            lambda s: F.slice(vec, s * SUB_DIM + 1, SUB_DIM))
        return df.select(*id_cols, F.posexplode(chunks).alias("s", "sub"))

    csub = subspaces(corpus, ["vec_id"], F.col("v"))
    cbsub = subspaces(cb, ["j"], F.col("v")).withColumnRenamed("sub", "cbs")
    qsub = subspaces(q, ["query_id"], F.col("qv"))

    # squared L2 rounded to 6 dp: the engine-portable argmin/ranking key
    sub_d2 = F.round(sq_l2(F.col("sub"), F.col("cbs")), 6)
    # encode: nearest codeword per (vector, subspace) — map-side
    # min_by against the broadcast codebook, ties to the lowest j
    enc = (csub.join(F.broadcast(cbsub), "s")
           .groupBy("vec_id", "s")
           .agg(F.min_by(
               F.col("j"),
               F.struct(sub_d2.alias("d"), F.col("j"))).alias("code")))
    # per-query distance tables (M_SUB × K_CODE rows per query)
    dtab = (qsub.join(F.broadcast(cbsub), "s")
            .select("query_id", "s", "j",
                    sub_d2.alias("dq")))
    adist = (enc.join(F.broadcast(dtab),
                      (enc.s == dtab.s) & (enc.code == dtab.j))
             .groupBy("query_id", "vec_id")
             .agg(F.sum("dq").alias("ad")))
    wa = Window.partitionBy("query_id").orderBy(
        F.asc("ad"), F.asc("vec_id"))
    cand = (adist.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") <= PQ_CAND)
            .select("query_id", F.col("vec_id").alias("neighbor_id")))
    exact = (cand.join(F.broadcast(q), "query_id")
             .join(corpus.withColumnRenamed("vec_id", "neighbor_id"),
                   "neighbor_id")
             .select("query_id", "neighbor_id",
                     F.round(cosine(F.col("qv"), F.col("v")), 6)
                     .alias("cosine")))
    we = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (exact.withColumn("rn", F.row_number().over(we))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "neighbor_id", "cosine"))


_KC_K = 8  # coreset size (greedy furthest-point rounds)


def _kc_dist(e: str, s: str) -> str:
    """Squared-L2 via three dot products, rounded to 6 dp — the same
    per-pair decomposition and fold order on both engines (the v1
    portability discipline)."""
    return (f"ROUND(list_dot_product({e}.v, {e}.v)"
            f" - 2 * list_dot_product({e}.v, {s}.v)"
            f" + list_dot_product({s}.v, {s}.v), 6)")


def _kcenter_oracle() -> str:
    body = """
    WITH emb AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), sel0 AS MATERIALIZED (
        SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 1
    )"""
    for k in range(1, _KC_K):
        mins = "LEAST(" + ", ".join(
            _kc_dist("e", f"s{j}") for j in range(k)) + ")"
        joins = " ".join(f"CROSS JOIN sel{j} s{j}" for j in range(k))
        body += f""", sel{k} AS MATERIALIZED (
        SELECT e.vec_id, e.v, {mins} AS md
        FROM emb e {joins}
        ORDER BY md DESC, e.vec_id ASC LIMIT 1
    )"""
    parts = ["SELECT CAST(0 AS BIGINT) AS sel_round, vec_id, "
             "CAST(NULL AS DOUBLE) AS sel_dist FROM sel0"]
    for k in range(1, _KC_K):
        parts.append(f"SELECT CAST({k} AS BIGINT), vec_id, md FROM sel{k}")
    return body + "\n    " + "\n    UNION ALL ".join(parts)


@query("v9_kcenter_coreset", oracle=_kcenter_oracle())
def v9_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (furthest-point) coreset selection over the
    embedding corpus — the diverse-subset primitive behind data
    pruning / core-set curation (pick the {K} vectors that 2-approx
    minimize the maximum distance from any point to its nearest
    selected center, Gonzalez '85). Seed = smallest vec_id; each round
    picks the point MAXIMIZING its min squared-L2 distance to the
    already-selected set (distance per pair via the v1 portability
    discipline: three sequential-fold dot products, rounded to 6 dp
    BEFORE the argmax, vec_id tie-break). Output: (sel_round, vec_id,
    sel_dist) per selected center — sel_dist is the round's coverage
    radius, the curve a curation pipeline reads to pick k.

    Scale shape: the algorithm is inherently sequentially greedy in k
    (each argmax depends on the previous pick), so the loop lives on
    the driver holding exactly k (id, vector) pairs — a BOUNDED
    collect of ONE row per round (the ml sufficient-stats convention),
    never the corpus. Each round is one full corpus scan with the
    selected vectors folded in as literals (JVM-side array folds, no
    UDF) and a TakeOrderedAndProject(1) cut — k embarrassingly
    parallel passes at 100 TB, the standard distributed k-center
    schedule. k² driver work is nil for curation-sized k."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    seed = emb.orderBy(F.asc("vec_id")).limit(1).collect()[0]
    sel = [(0, int(seed.vec_id), None)]
    vv = dot(F.col("v"), F.col("v"))

    def _dist(cv):
        c_norm = 0.0
        for x in cv:  # same left-to-right fold as the engines
            c_norm += float(x) * float(x)
        lit_vec = F.array(*[F.lit(float(x)) for x in cv])
        return F.round(vv - 2.0 * dot(F.col("v"), lit_vec) + F.lit(c_norm), 6)

    # each center's distance Column is built once and reused by every
    # later round: its literal vector and fold cost ~100 py4j calls
    cv, dists = seed.v, []
    for k in range(1, _KC_K):
        dists.append(_dist(cv))
        md = dists[0] if len(dists) == 1 else F.least(*dists)
        top = (emb.select("vec_id", "v", md.alias("md"))
               .orderBy(F.desc("md"), F.asc("vec_id"))
               .limit(1).collect()[0])
        sel.append((k, int(top.vec_id), float(top.md)))
        cv = top.v
    return spark.createDataFrame(
        sel, "sel_round long, vec_id long, sel_dist double")


# --------------------------------------------------------------------
# V10 — two-stage retrieval: truncated-dim candidate generation +
# full-dim exact rerank (the Matryoshka / dimension-funnel pattern).
# --------------------------------------------------------------------
_TRUNC_D = 16    # candidate-generation prefix dims (of 64)
_CAND_C = 32     # candidates per query passed to the rerank stage


@query(
    "v10_two_stage_rerank",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < {N_QUERY_VECS}),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id >= {N_QUERY_VECS}),
         stage1 AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               q.v AS qv, c.v AS cv,
               ROUND(list_dot_product(q.v[1:{_TRUNC_D}],
                                      c.v[1:{_TRUNC_D}]), 6) AS tdot
        FROM q, c
    ), cand AS (
        SELECT query_id, neighbor_id, qv, cv
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY tdot DESC, neighbor_id) AS crn
              FROM stage1)
        WHERE crn <= {_CAND_C}
    ), rer AS (
        SELECT query_id, neighbor_id,
               ROUND(list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))), 6) AS cosine
        FROM cand
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(rn AS INT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC,
                                                neighbor_id) AS rn
          FROM rer)
    WHERE rn <= {TOP_K}
    """,
)
def v10_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage dense retrieval: rank the corpus by the inner product
    of the first {TD} dims only (the Matryoshka-embedding /
    dimension-funnel trick — prefix dims carry most of the signal),
    keep the top-{C} candidates per query, then rerank JUST those by
    exact full-{FD}-dim cosine and emit the top-{K} with ranks. This
    is how production vector search actually spends its FLOPs: a
    cheap coarse scorer touches everything, the exact scorer touches
    a constant number of rows per query. Both stages break ties on
    (rounded score, neighbor_id) so the candidate-set boundary and
    the final ranking are deterministic across engines (the v1
    discipline).

    Scale shape: the data-sized stage folds {TD}/{FD} of each vector
    (a 4x FLOP/byte cut on the scoring loop; with a column layout
    that stores the prefix separately it is also a 4x I/O cut), and
    Catalyst plans the per-query top-{C} as WindowGroupLimit — each
    partition keeps its local top-{C} before the single exchange on
    the tiny query_id keyspace. The full-dim rerank then touches
    exactly {C} rows per query — constant, corpus-size-independent.
    Versus v1's brute force: same exchange structure, 1/4 the fold
    work where it matters. The production operators
    (operators/similarity.py IVF/LSH/PQ) cut the CANDIDATE COUNT;
    this query cuts the PER-CANDIDATE cost — at 100 TB you compose
    the two (IVF probe -> truncated score -> exact rerank)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    c = emb.filter(F.col("vec_id") >= N_QUERY_VECS).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    stage1 = (c.crossJoin(F.broadcast(q))
              .select("query_id", "neighbor_id", "qv", "cv",
                      F.round(dot(F.slice("qv", 1, _TRUNC_D),
                                  F.slice("cv", 1, _TRUNC_D)), 6)
                      .alias("tdot")))
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("tdot"), F.asc("neighbor_id"))
    cand = (stage1.withColumn("crn", F.row_number().over(wc))
            .filter(F.col("crn") <= _CAND_C))
    rer = cand.select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"))
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (rer.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= TOP_K)
            .select("query_id", "neighbor_id", "cosine",
                    F.col("rk").cast("int")))


v10_two_stage_rerank.__doc__ = v10_two_stage_rerank.__doc__.format(
    TD=_TRUNC_D, FD=64, C=_CAND_C, K=TOP_K)


# --------------------------------------------------------------------
# V11 — MMR-diversified top-k: relevance candidates, then the greedy
# maximal-marginal-relevance selection, fully unrolled (no driver loop).
# --------------------------------------------------------------------
_MMR_CAND = 16   # relevance candidates per query entering the greedy
_MMR_K = 5       # diversified picks per query


def _mmr_oracle() -> str:
    body = f"""
    WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < {N_QUERY_VECS}),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id >= {N_QUERY_VECS}),
         rel AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.v AS cv,
               ROUND(list_dot_product(q.v, c.v)
                     / (sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(c.v, c.v))), 6) AS rel
        FROM q, c
    ), cand AS (
        SELECT query_id, neighbor_id, cv, rel
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY rel DESC, neighbor_id) AS crn
              FROM rel)
        WHERE crn <= {_MMR_CAND}
    ), ps AS (
        SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
               ROUND(list_dot_product(a.cv, b.cv)
                     / (sqrt(list_dot_product(a.cv, a.cv))
                        * sqrt(list_dot_product(b.cv, b.cv))), 6) AS s
        FROM cand a JOIN cand b USING (query_id)
        WHERE a.neighbor_id <> b.neighbor_id
    ), p1 AS (
        SELECT query_id, neighbor_id, rel, CAST(1 AS BIGINT) AS mmr_round,
               rel AS mmr_score
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY rel DESC, neighbor_id) AS rn
              FROM cand)
        WHERE rn = 1
    ), s1 AS (SELECT query_id, neighbor_id FROM p1)"""
    for r in range(2, _MMR_K + 1):
        body += f""", ms{r} AS (
        SELECT ps.query_id, ps.a_id, MAX(ps.s) AS ms
        FROM ps JOIN s{r - 1} sel
          ON sel.query_id = ps.query_id AND sel.neighbor_id = ps.b_id
        GROUP BY ps.query_id, ps.a_id
    ), p{r} AS (
        SELECT query_id, neighbor_id, rel,
               CAST({r} AS BIGINT) AS mmr_round, score AS mmr_score
        FROM (SELECT c.query_id, c.neighbor_id, c.rel,
                     c.rel - m.ms AS score,
                     ROW_NUMBER() OVER (
                         PARTITION BY c.query_id
                         ORDER BY c.rel - m.ms DESC, c.neighbor_id) AS rn
              FROM cand c JOIN ms{r} m
                ON m.query_id = c.query_id AND m.a_id = c.neighbor_id
              WHERE NOT EXISTS (
                    SELECT 1 FROM s{r - 1} sx
                    WHERE sx.query_id = c.query_id
                      AND sx.neighbor_id = c.neighbor_id))
        WHERE rn = 1
    ), s{r} AS (
        SELECT query_id, neighbor_id FROM s{r - 1}
        UNION ALL SELECT query_id, neighbor_id FROM p{r}
    )"""
    body += """
    SELECT query_id, neighbor_id, rel, mmr_round, mmr_score FROM p1"""
    for r in range(2, _MMR_K + 1):
        body += f"""
    UNION ALL
    SELECT query_id, neighbor_id, rel, mmr_round, mmr_score FROM p{r}"""
    return body


@query("v11_mmr_diversified", oracle=_mmr_oracle())
def v11_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified retrieval (Carbonell &
    Goldstein 1998): per query, take the top-{C} cosine-relevance
    candidates, then greedily pick {K} results where each pick
    maximizes rel(d) - max_sim(d, already-picked) — the redundancy-
    penalized objective every RAG / search-results-page pipeline uses
    to avoid returning {K} near-duplicates (λ = 0.5 up to the
    monotone x2 scaling, which keeps the score an EXACT double
    difference of two 6-dp-rounded cosines — no second rounding, so
    no engine-boundary hazard). Round 1's score is the bare
    relevance; ties break on neighbor_id everywhere.

    Scale shape: the greedy recursion is bounded (k = {K}), so it
    UNROLLS into the plan — no driver loop, no collect anywhere
    (contrast v9, where k picks from the whole corpus force a
    1-row-per-round driver argmax). The data-sized stage is the
    relevance scan (WindowGroupLimit top-{C} per query); the
    candidate relation and the |C|^2-per-query pairwise-sim relation
    are then localCheckpoint-materialized ONCE (constant size per
    query — without the pin each of the {K} rounds would re-run the
    corpus crossJoin), and every greedy round is a query-keyed join +
    1-row window over constant-size inputs. At 100 TB: one corpus
    scoring pass + k constant-cost rounds, embarrassingly parallel
    across queries."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    c = emb.filter(F.col("vec_id") >= N_QUERY_VECS).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    # the broadcast crossJoin keeps the corpus scan's partitioning —
    # the ev3-class under-split hazard (2 splits at the 10x fixture)
    # on the one data-sized stage; spread only when under-split
    c = spread_if_undersplit(c)

    def cos(a, b):
        return F.round(cosine(F.col(a), F.col(b)), 6)

    w_rel = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("neighbor_id"))
    cand_full = (c.crossJoin(F.broadcast(q))
                 .select("query_id", "neighbor_id", "cv",
                         cos("qv", "cv").alias("rel"))
                 .withColumn("crn", F.row_number().over(w_rel))
                 .filter(F.col("crn") <= _MMR_CAND))
    a = cand_full.select("query_id", F.col("neighbor_id").alias("a_id"),
                         F.col("cv").alias("av"))
    b = cand_full.select("query_id", F.col("neighbor_id").alias("b_id"),
                         F.col("cv").alias("bv"))
    psim = (a.join(b, "query_id")
            .filter(F.col("a_id") != F.col("b_id"))
            .select("query_id", "a_id", "b_id", cos("av", "bv").alias("s"))
            .localCheckpoint())
    cand = cand_full.select(
        "query_id", "neighbor_id", "rel").localCheckpoint()

    pick = (cand.withColumn("rn", F.row_number().over(w_rel))
            .filter(F.col("rn") == 1)
            .select("query_id", "neighbor_id", "rel",
                    F.lit(1).cast("long").alias("mmr_round"),
                    F.col("rel").alias("mmr_score")))
    out = pick
    sel = pick.select("query_id", "neighbor_id")
    for r in range(2, _MMR_K + 1):
        # every relation in a greedy round is FIXED-size by
        # construction (<= C x |queries|, both constants) — broadcast
        # unconditionally; checkpoint-scan stats otherwise plan SMJs
        # over 48-row relations (the audited derived-relation class)
        ms = (psim.join(
            F.broadcast(sel.withColumnRenamed("neighbor_id", "b_id")),
            ["query_id", "b_id"])
              .groupBy("query_id", "a_id").agg(F.max("s").alias("ms")))
        w_sc = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("neighbor_id"))
        pick = (cand.join(F.broadcast(sel),
                          ["query_id", "neighbor_id"], "left_anti")
                .join(F.broadcast(ms),
                      (F.col("neighbor_id") == F.col("a_id"))
                      & (cand["query_id"] == ms["query_id"]))
                .drop(ms["query_id"]).drop("a_id")
                .withColumn("score", F.col("rel") - F.col("ms"))
                .withColumn("rn", F.row_number().over(w_sc))
                .filter(F.col("rn") == 1)
                .select("query_id", "neighbor_id", "rel",
                        F.lit(r).cast("long").alias("mmr_round"),
                        F.col("score").alias("mmr_score")))
        out = out.union(pick)
        sel = sel.union(pick.select("query_id", "neighbor_id"))
    return out


v11_mmr_diversified.__doc__ = v11_mmr_diversified.__doc__.format(
    C=_MMR_CAND, K=_MMR_K)
