"""Similarity search over embedding columns (array<float>), and the
one home of the package's vector arithmetic.

Two tiers:

- ``cosine_topk`` — exact brute force: broadcast the query set,
  JVM-side array-fold dot products, per-query top-k. Correct at any
  corpus size but scans everything; right when queries ≪ corpus and
  a full scan per batch is acceptable.
- ``lsh_topk`` — random-hyperplane LSH: bucket corpus and queries by
  sign patterns, rerank only same-bucket candidates. Sub-linear probe
  cost at 100 TB; recall tunable via (n_planes, n_tables) — measured
  against the brute-force oracle in tests/.

Also ``embedding_near_dup_pairs`` — corpus self-join at a cosine
threshold via the same bucketing (embedding-space near-duplicate
detection for training corpora).

Vector arithmetic lives here and nowhere else: ``dot``, ``sq_l2``,
``l2_norm`` and ``cosine``, called by every vector query (v1-v11, d8,
ml5/ml6). Each is one sequential JVM fold,
``aggregate(zip_with(a, b, f), zero, acc + x)``: sums add left to
right, with no Python on the hot path. ``zero`` sets the accumulator:
``0.0`` for float embeddings cast with ``col.cast("array<double>")``,
``0`` (BIGINT) for the exact micro-unit integers of ml5/d8. A ragged
pair raises instead of the NULL ``zip_with`` would give; a NULL array
still yields NULL. The folds are not unrolled into ``element_at``
chains, which ran 9-13x slower from width 32 under whole-stage codegen
(SCALE.md, "Array folds and codegen").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_analytics_spark.caching import register_cache

#: Width of the ``embeddings`` fixture's vectors, pinned by
#: tests/test_ml_queries.py::test_embedding_fixture_is_fixed_width.
EMBEDDING_DIM = 64


def _fold(a: Column, b: Column, term, zero: float | int) -> Column:
    """sum of ``term(a[i], b[i])``, added left to right from ``zero``;
    an int ``zero`` makes the accumulator BIGINT."""
    acc0 = F.lit(zero) if isinstance(zero, float) else F.lit(zero).cast("long")
    fold = F.aggregate(F.zip_with(a, b, term), acc0, lambda acc, x: acc + x)
    return F.when(F.array_size(a) != F.array_size(b), F.raise_error(
        F.lit("vector length mismatch"))).otherwise(fold)


def dot(a: Column, b: Column, zero: float | int = 0.0) -> Column:
    return _fold(a, b, lambda x, y: x * y, zero)


def sq_l2(a: Column, b: Column, zero: float | int = 0.0) -> Column:
    """Squared L2 distance: monotone with the distance, so rankings by
    it need no sqrt."""
    return _fold(a, b, lambda x, y: (x - y) * (x - y), zero)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k neighbors per query vector (brute force).

    Plan: corpus stays partitioned; queries broadcast; the rank window
    is per-query so Catalyst's WindowGroupLimit prunes to local top-k
    per partition before the (tiny) final shuffle. Norms are computed
    once per row (not per pair): the per-pair work is one dot product
    and a divide."""
    cvec = F.col(vec_col).cast("array<double>")
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      cvec.alias("cv")).withColumn("cn", l2_norm(F.col("cv")))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       cvec.alias("qv")).withColumn("qn", l2_norm(F.col("qv")))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id",
        F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                8).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def _hyperplane(salt: str, table: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane components.

    Components are derived from a splitmix-style integer hash — fixed
    at plan-build time so every executor sees the same planes without
    any broadcast of state."""
    import hashlib
    import math

    comps = []
    for d in range(dim):
        # md5-derived, NOT Python hash() — hash() is salted per process
        # (PYTHONHASHSEED) and would give every executor run different planes
        raw = hashlib.md5(f"{salt}|{table}|{plane}|{d}".encode()).digest()
        x = int.from_bytes(raw[:4], "little")
        # Box–Muller-ish: two uniform halves → roughly normal is
        # unnecessary; signs+magnitudes uniform in [-1,1] suffice for
        # sign-LSH (only the direction matters)
        comps.append((x / 0xFFFFFFFF) * 2.0 - 1.0)
    n = math.sqrt(sum(c * c for c in comps)) or 1.0
    return [c / n for c in comps]


def _bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """Sign-pattern bucket id for one LSH table, as a SQL string.

    Generated as TEXT and parsed in ONE F.expr call instead of built
    through thousands of per-literal Column operations: the Column
    route costs ~5 s of driver-side py4j round trips per call site at
    16 tables x 4 planes x 64 dims (measured — execution itself is
    0.24 s warm), which dominated v3/v4/v7 wall-clock. ``repr(c)``
    literals round-trip exactly through Spark's correctly-rounded
    parser (``D`` suffix keeps them DOUBLE, matching F.lit), and the
    fold is the same sequential aggregate(zip_with) as :func:`dot`, so
    bucket values — and every downstream oracle hash — are unchanged."""
    terms = ["0L"]
    for i, p in enumerate(planes):
        arr = ", ".join(f"{c!r}D" for c in p)
        proj = (f"aggregate(zip_with({vec_sql}, array({arr}), "
                f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)")
        terms.append(f"(CASE WHEN {proj} > 0 THEN shiftleft(1L, {i}) "
                     f"ELSE 0L END)")
    return "(" + " | ".join(terms) + ")"


#: Parsed-Column memo for the table-buckets expression: parsing the
#: 16x4x64-literal SQL costs ~0.5 s of driver time PER CALL (measured;
#: it dominated the warm probe path), and the parsed Column is
#: reusable across plans within the JVM. Keyed by the SQL text —
#: single-JVM assumption, same as the session singletons.
_BUCKETS_EXPR_CACHE: dict[str, Column] = register_cache({})


def _table_buckets_expr(vec_sql: str, planes: list[list[float]],
                        n_tables: int) -> Column:
    """explode(array(named_struct('table', t, 'bucket', ...)...)) over
    all LSH tables — one parsed expression for the whole fan-out,
    parsed once per distinct (planes, vec) combination per process."""
    structs = ", ".join(
        f"named_struct('table', {t}, 'bucket', "
        f"{_bucket_sql(vec_sql, planes[t])})"
        for t in range(n_tables))
    sql = f"explode(array({structs}))"
    col = _BUCKETS_EXPR_CACHE.get(sql)
    if col is None:
        col = F.expr(sql)
        _BUCKETS_EXPR_CACHE[sql] = col
    return col


def _lsh_bucketed(df: DataFrame, idc: str, vec_col: str,
                  alias_vec: str, alias_norm: str,
                  planes: list[list[list[float]]],
                  n_tables: int) -> DataFrame:
    vec_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(idc), v.alias(alias_vec),
        l2_norm(v).alias(alias_norm),
        _table_buckets_expr(vec_sql, planes, n_tables).alias("tb"),
    ).select(idc, alias_vec, alias_norm, "tb.table", "tb.bucket")


def lsh_index(corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", dim: int = EMBEDDING_DIM,
              n_planes: int = 8, n_tables: int = 8,
              salt: str = "rhp") -> DataFrame:
    """The build-once LSH index relation: (neighbor_id, cv, cn,
    table, bucket) for every corpus vector. In production this is the
    structure you persist (bucketed by (table, bucket)) and serve
    many query batches from; callers that probe repeatedly in one
    session should build it once and pass it to ``lsh_topk`` —
    recomputing the 64-plane signature fold per probe batch is the
    LSH equivalent of rebuilding an index per SELECT."""
    planes = [
        [_hyperplane(salt, t, p, dim) for p in range(n_planes)]
        for t in range(n_tables)
    ]
    return _lsh_bucketed(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col),
        "neighbor_id", vec_col, "cv", "cn", planes, n_tables)


def lsh_topk(corpus: DataFrame | None, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", dim: int = EMBEDDING_DIM,
             n_planes: int = 8, n_tables: int = 8,
             salt: str = "rhp", index: DataFrame | None = None) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    Each of ``n_tables`` tables buckets vectors by the sign pattern of
    ``n_planes`` projections (collision prob per plane = 1−θ/π). A
    query only scores candidates sharing a bucket in ≥1 table. Probe
    cost ~ corpus/2^n_planes per table; recall grows with n_tables.
    ``index`` short-circuits the corpus signature build with a
    prebuilt/cached :func:`lsh_index` relation (same planes params).
    """
    planes = [
        [_hyperplane(salt, t, p, dim) for p in range(n_planes)]
        for t in range(n_tables)
    ]

    c = index if index is not None else lsh_index(
        corpus, id_col, vec_col, dim, n_planes, n_tables, salt)
    q = _lsh_bucketed(
        queries.select(F.col(query_id_col).alias("query_id"), vec_col),
        "query_id", vec_col, "qv", "qn", planes, n_tables)
    cand = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .select("query_id", "neighbor_id", "qv", "qn", "cv", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id", "neighbor_id",
        F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                8).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             dim: int = EMBEDDING_DIM, n_planes: int = 10,
                             n_tables: int = 6) -> DataFrame:
    """Corpus self-join: pairs with cosine ≥ threshold, LSH-bucketed.

    High thresholds collide on most planes, so modest n_tables reaches
    high recall; candidates are exactly re-scored.

    The bucketed signature relation is built ONCE (localCheckpoint)
    and read by both join sides — lazily, both sides re-ran the
    n_tables × n_planes interpreted 64-wide folds per vector, the
    dominant cost. The build is also spread when the corpus scan is
    under-split (the es1/v3 rule: the fold stage's cost is invisible
    to input-byte-based partitioning). Measured at sf0.1 / 10×
    corpus: 4.3 → 1.9 s and ~30 → 4.6 s warm, values identical."""
    planes = [
        [_hyperplane("neardup", t, p, dim) for p in range(n_planes)]
        for t in range(n_tables)
    ]
    from big_data_analytics_spark.operators.partitioning import (
        spread_if_undersplit,
    )
    corpus = spread_if_undersplit(corpus)
    v = F.col(vec_col).cast("array<double>")
    vec_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    b = corpus.select(
        F.col(id_col).alias("id"), v.alias("v"),
        l2_norm(v).alias("n"),
        _table_buckets_expr(vec_sql, planes, n_tables).alias("tb"),
    ).select("id", "v", "n", "tb.table", "tb.bucket").localCheckpoint()
    from big_data_analytics_spark.operators.joins import sized_side

    # payload-heavy rows (dim-long vectors): pin the self-join on the
    # measured ELEMENT count — a checkpoint's size estimate once
    # mis-broadcast a growing relation (round-12 audit / joins.py)
    n_elems = b.count() * dim
    left = b.select("table", "bucket", F.col("id").alias("id_a"),
                    F.col("v").alias("va"), F.col("n").alias("na"))
    right = b.select("table", "bucket", F.col("id").alias("id_b"),
                     F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        left.join(sized_side(right, n_elems), ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cosine",
                    F.round(dot(F.col("va"), F.col("vb"))
                            / (F.col("na") * F.col("nb")), 8))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + cell probing
# ---------------------------------------------------------------------

def ivf_build(corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", n_cells: int = 16,
              seed: int = 7, fit_fraction: float = 1.0):
    """Partition the corpus into ``n_cells`` Voronoi cells via MLlib
    KMeans (the FAISS IVF coarse quantizer). Returns (assignments df
    with a ``cell`` column, centroid list).

    ``fit_fraction`` is the 100 TB knob: the quantizer only needs
    enough vectors to place ``n_cells`` centroids (FAISS trains IVF
    on ~max(10k, 256·n_cells) samples regardless of corpus size), so
    fit KMeans on a seeded sample and *assign* the full corpus in one
    narrow map — the iterative part of the algorithm never touches
    more than the sample. Store the corpus partitioned/bucketed by
    cell so a probe reads only nprobe/n_cells of the data (partition
    pruning does the rest)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if not 0.0 < fit_fraction <= 1.0:
        raise ValueError(f"fit_fraction must be in (0, 1], got {fit_fraction}")
    vecs = corpus.select(
        id_col, vec_col,
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__v"),
    )
    fit_set = (vecs if fit_fraction >= 1.0
               else vecs.sample(fraction=fit_fraction, seed=seed))
    km = KMeans(featuresCol="__v", k=n_cells, seed=seed).fit(fit_set)
    assigned = km.transform(vecs).select(
        id_col, vec_col, F.col("prediction").alias("cell"))
    centroids = [list(c) for c in km.clusterCenters()]
    return assigned, centroids


def ivf_write(assigned: DataFrame, path: str,
              cell_col: str = "cell") -> None:
    """Persist an IVF index partitioned by cell — the physical layout
    that makes probing sub-linear: a probe of nprobe cells reads only
    those partition directories (partition pruning), so scan cost is
    nprobe/n_cells of the corpus regardless of executor count."""
    assigned.write.mode("overwrite").partitionBy(cell_col).parquet(path)


def ivf_read_probe(spark, path: str, cells: list[int],
                   cell_col: str = "cell") -> DataFrame:
    """Read only the probed cells from a persisted IVF index. The cell
    filter is a partition filter (asserted in tests) — directories for
    unprobed cells are never listed or read."""
    from pyspark.sql import functions as F  # noqa: F811

    return spark.read.parquet(path).filter(F.col(cell_col).isin(cells))


def ivf_topk(assigned: DataFrame, centroids: list[list[float]],
             queries: DataFrame, k: int = 10, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id") -> DataFrame:
    """Probe the ``nprobe`` nearest cells per query, exact-rerank the
    candidates.

    Cell selection is fully in-plan: queries cross-join the broadcast
    centroid table (``n_cells`` rows — model parameters, not data),
    and a per-query window keeps the ``nprobe`` nearest cells. No
    query vector ever comes back to the driver, so the probe stage
    scales with |queries| like any other DataFrame op, and the query
    id keeps whatever type the caller's column has. The probe frame
    (|queries|×nprobe rows carrying the query vector) is broadcast
    into the cell-pruned candidate join; for query batches too large
    to broadcast, Spark falls back to a shuffle join on ``cell`` —
    still touching only nprobe/n_cells of the corpus."""
    spark = assigned.sparkSession
    cent = spark.createDataFrame(
        [(ci, [float(x) for x in c]) for ci, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    q = queries.select(F.col(query_id_col).alias("__qid"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    probe_w = Window.partitionBy("__qid").orderBy(F.asc("sq_dist"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("sq_dist", sq_l2(F.col("qv"), F.col("centroid")))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= nprobe)
        .select("__qid", "cell", "qv")
    )
    cand = assigned.join(F.broadcast(probes), "cell").select(
        "__qid",
        F.col(id_col).alias("neighbor_id"),
        "qv",
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    scored = cand.select(
        "__qid", "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 8).alias("cosine"),
    ).dropDuplicates(["__qid", "neighbor_id"])
    w = Window.partitionBy("__qid").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("__qid").alias(query_id_col), "neighbor_id", "cosine")
    )


# ---------------------------------------------------------------------
# Product quantization (FAISS PQ): memory-compressed ANN re-ranking.
# ---------------------------------------------------------------------

def pq_build(corpus: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", m: int = 4, k: int = 16,
             seed: int = 7, fit_fraction: float = 1.0):
    """Product-quantize the corpus: split each vector into ``m``
    subvectors, K-means each subspace into ``k`` codewords, store each
    vector as ``m`` small codes. Returns (codes df ``[id, codes:
    array<int>]``, codebooks ``list[m][k][subdim]``).

    The compression is the point at 100 TB: a 64-dim float vector
    (256 B) becomes m=4 bytes of codes — RAM-resident for billions of
    rows. Like ivf_build, ``fit_fraction`` trains the codebooks on a
    seeded sample while the full corpus is *assigned* in one narrow
    map per subspace; the m subspace fits are tiny independent KMeans
    runs over subvector samples."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if not 0.0 < fit_fraction <= 1.0:
        raise ValueError(f"fit_fraction must be in (0, 1], got {fit_fraction}")
    dim_row = corpus.select(F.size(vec_col).alias("d")).first()
    sub = dim_row["d"] // m
    assert sub * m == dim_row["d"], "m must divide the dimension"
    work = corpus.select(id_col,
                         F.col(vec_col).cast("array<double>").alias("__v"))
    codebooks = []
    codes = work.select(id_col)
    for i in range(m):
        piece = work.select(
            id_col,
            array_to_vector(F.slice("__v", i * sub + 1, sub)).alias("__s"))
        fit_set = (piece if fit_fraction >= 1.0
                   else piece.sample(fraction=fit_fraction, seed=seed + i))
        km = KMeans(featuresCol="__s", k=k, seed=seed + i).fit(fit_set)
        codebooks.append([list(c) for c in km.clusterCenters()])
        assigned = km.transform(piece).select(
            id_col, F.col("prediction").alias(f"__c{i}"))
        codes = codes.join(assigned, id_col)
    return codes.select(
        id_col,
        F.array(*[F.col(f"__c{i}") for i in range(m)]).alias("codes"),
    ), codebooks


def pq_topk(codes: DataFrame, codebooks, queries: DataFrame,
            id_col: str = "vec_id", vec_col: str = "embedding",
            qid_col: str = "qid", k: int = 10) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query precompute the
    m x k table of squared L2 distances from each query subvector to
    each codeword — driver-side numpy over a *broadcast-sized* query
    set — then score every code row by m table lookups.

    The lookup table ships as a small (qid, sub, code, d2) relation
    broadcast into a join against the exploded codes; scoring is one
    partial-combined sum per (qid, id) and a WindowGroupLimit top-k.
    No full vector is ever read at scoring time — that is the PQ
    trade: approximate distances, 64x less I/O."""
    import numpy as np

    m = len(codebooks)
    q_rows = queries.select(qid_col, F.col(vec_col).cast("array<double>")
                            .alias("__q")).collect()
    sub = len(codebooks[0][0])
    table_rows = []
    for qr in q_rows:
        qv = np.asarray(qr["__q"])
        for i in range(m):
            qs = qv[i * sub:(i + 1) * sub]
            for c, word in enumerate(codebooks[i]):
                d2 = float(np.sum((qs - np.asarray(word)) ** 2))
                table_rows.append((qr[qid_col], i, c, d2))
    spark = codes.sparkSession
    table = spark.createDataFrame(
        table_rows, [qid_col, "sub", "code", "d2"])
    exploded = codes.select(
        id_col, F.posexplode("codes").alias("sub", "code"))
    scored = (
        exploded.join(F.broadcast(table), ["sub", "code"])
        .groupBy(qid_col, id_col)
        .agg(F.sum("d2").alias("adc_dist"))
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k).drop("rnk"))
