"""Driver-graded ML queries: the SURVEY §2.9 surface (M3-M12, M17,
M19 — reference notebooks /root/reference/data_mining_Assignment1.ipynb
(KMeans/KNN/GaussianNB/PCA/roc_auc/cross_val),
Assignment2_for_data_mining.ipynb (LDA/logistic), SVM.ipynb,
BasicsDecisionTree.ipynb (trees/GBT)) re-expressed as
oracle-checkable distributed plans. Until this wave, the ML components were validated by
closed-form pytest parity only; these queries give each family a
DuckDB-hash-graded driver row.

Engine-portability discipline (same as st1-st5 / ml1-ml4): every
accumulated quantity is an exact integer (micro-unit fixed point,
BIGINT/decimal(38,0) accumulators) so partial-aggregation order can
never change a result; doubles appear only in final per-row formulas
written with identical operation order in both engines and rounded
before comparison. Transcendentals (ln/exp) follow the t12 precedent
(both engines' libm agree to well under the ROUND(. ,6) margin).

Scale notes per query in each docstring; the shared principle: train
steps are map-side-combinable aggregations over fixed small group
counts (K x dims, labels x dims, thresholds), predict/assign steps
are broadcast-model map-only passes — the 100 TB shape for all of
classical ML-on-Spark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.operators.joins import sized_side
from big_data_analytics_spark.queries import query
from big_data_analytics_spark.operators.partitioning import spread_if_undersplit
from big_data_analytics_spark.operators.similarity import EMBEDDING_DIM, sq_l2

#: Embedding micro-unit quantization scale (matches d2b/v5/v6 lineage:
#: float32 -> double is exact widening, *1e6 and FLOOR are identical
#: IEEE ops in both engines).
_EMB_SCALE = 1_000_000.0


def _quantized(col: Column) -> Column:
    """array<float> -> array<long> micro-units, exact and portable.
    Their squared L2 distances (``sq_l2(a, b, zero=0)``) are exact
    BIGINTs: max per-dim diff ~2e6 squared = 4e12, x64 dims < 2^63."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(_EMB_SCALE))
        .cast("long"))


_SQ_DIST_SQL = ("list_sum(list_transform(generate_series(1, {d}), "
                "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))")


# --------------------------------------------------------------------
# ml5 — k-means (M11): K=4, 3 Lloyd iterations, deterministic seeding
# --------------------------------------------------------------------

_KM_K = 4
_KM_ITERS = 3


def lloyd_cte_sql(k: int, iters: int) -> str:
    """DuckDB CTE prefix for `iters` exact Lloyd iterations over the
    micro-unit-quantized embeddings: defines relations ``v`` (vec_id,
    vq), ``a{iters}`` (final assignment with distance ``d``) and
    ``c{iters}`` (final centroids). Shared by ml5_kmeans and
    d8_semantic_dedup so both oracles state the identical clustering
    semantics."""
    d = _SQ_DIST_SQL.format(d=EMBEDDING_DIM, a="v.vq", b="c.c")
    sql = f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(FLOOR(x * {_EMB_SCALE}) AS BIGINT)) AS vq
        FROM embeddings
    ), c0 AS (
        SELECT vec_id AS cluster_id, vq AS c FROM v
        WHERE vec_id < {k}
    )"""
    prev = "c0"
    for it in range(1, iters + 1):
        sql += f""", a{it} AS (
        SELECT vec_id, vq, cluster_id, d FROM (
            SELECT v.vec_id, v.vq, c.cluster_id, {d} AS d,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {d}, c.cluster_id) AS rn
            FROM v, {prev} c) WHERE rn = 1
    ), c{it} AS (
        SELECT cluster_id, list(cd ORDER BY dim) AS c FROM (
            SELECT cluster_id, i AS dim,
                   CAST(FLOOR(CAST(SUM(vq[i]) AS DOUBLE)
                              / COUNT(*)) AS BIGINT) AS cd
            FROM a{it}, unnest(generate_series(1, {EMBEDDING_DIM})) AS t(i)
            GROUP BY cluster_id, i)
        GROUP BY cluster_id
    )"""
        prev = f"c{it}"
    return sql


def _kmeans_oracle() -> str:
    last = _KM_ITERS
    sql = lloyd_cte_sql(_KM_K, _KM_ITERS)
    sql += f"""
    SELECT s.cluster_id, t.i - 1 AS dim, c.c[t.i] AS c_micro,
           s.n_members, s.ss_err
    FROM (SELECT cluster_id, COUNT(*) AS n_members,
                 CAST(SUM(d) AS BIGINT) AS ss_err
          FROM a{last} GROUP BY cluster_id) s
    JOIN c{last} c USING (cluster_id),
         unnest(generate_series(1, {EMBEDDING_DIM})) AS t(i)
    ORDER BY cluster_id, dim
    """
    return sql


def lloyd_assign(spark: SparkSession, sf_dir: str, k: int,
                 iters: int) -> tuple[DataFrame, DataFrame]:
    """Spark-side twin of ``lloyd_cte_sql``: `iters` exact Lloyd
    iterations, returning (assigned, centroids) where assigned =
    (vec_id, vq, cluster_id, d) and centroids = (cluster_id, c,
    n_members, ss_err). ASSIGN broadcasts the K centroids as one
    array row (map-only, per-row argmin fold); UPDATE is the
    posexplode → (cluster, dim) → cluster two-level mergeable agg.
    r15: the UPDATE aggs additionally carry the member count and Σd
    (exact: every member contributes its d to each of its {D} dim
    rows, so per-(cluster, dim) Σd IS the per-cluster Σd — read back
    with max), so consumers (ml5) take per-cluster stats off the
    centroid relation instead of re-scanning the assignment.
    FIXED-WIDTH ASSUMPTION (r15 ADVICE): that read-back is exact only
    because every vq is a non-empty fixed-{D}-wide array (enforced by
    ``_quantized`` over the {D}-d embedding fixture); a ragged or
    empty row would contribute to fewer dim groups and silently skew
    n_members/ss_err. tests/test_ml_queries.py pins the fixture's
    fixed width so a future fixture change fails loudly instead. (A
    {D}-wide unrolled element_at aggregate was tried first: one
    exchange fewer but ~3 s of extra driver-side analysis per call on
    the 64×3-iteration nested plan — net 2.7× slower. Analysis cost
    is part of the plan budget.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", _quantized(F.col("embedding")).alias("vq"))
    cents = (v.filter(F.col("vec_id") < k)
             .select(F.col("vec_id").alias("cluster_id"),
                     F.col("vq").alias("c"),
                     F.lit(None).cast("long").alias("n_members"),
                     F.lit(None).cast("long").alias("ss_err")))

    assigned = None
    for _ in range(iters):
        cent_row = cents.agg(
            F.array_sort(F.collect_list(F.struct("cluster_id", "c")))
            .alias("cents"))
        init = F.struct(
            F.lit(None).cast("long").alias("cid"),
            F.lit(None).cast("long").alias("d"))

        def _better(acc, ct):
            d = sq_l2(F.col("vq"), ct["c"], zero=0)
            take = acc["cid"].isNull() | (d < acc["d"])
            return F.when(take, F.struct(
                ct["cluster_id"].alias("cid"), d.alias("d"))
            ).otherwise(acc)

        assigned = (
            v.crossJoin(F.broadcast(cent_row))
            .select("vec_id", "vq",
                    F.aggregate(F.col("cents"), init, _better)
                    .alias("best"))
            .select("vec_id", "vq", F.col("best.cid").alias("cluster_id"),
                    F.col("best.d").alias("d")))
        cents = (
            assigned.select("cluster_id", "d",
                            F.posexplode("vq").alias("dim", "x"))
            .groupBy("cluster_id", "dim")
            .agg(F.floor(F.sum("x").cast("double") / F.count("*"))
                 .cast("long").alias("cd"),
                 F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("d").cast("long").alias("sd"))
            .groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "cd")))
                 .alias("s"),
                 F.max("n").alias("n_members"),
                 F.max("sd").alias("ss_err"))
            .select("cluster_id",
                    F.transform("s", lambda t: t["cd"]).alias("c"),
                    "n_members", "ss_err"))
    return assigned, cents


@query("ml5_kmeans", oracle=_kmeans_oracle())
def ml5_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd) on the 64-d embedding corpus:
    K={K} centroids seeded from the K lowest vec_ids, {I} exact
    iterations, emitting the final centroids (exploded to one row per
    (cluster, dim)) with member counts and within-cluster squared
    error. Mirrors the reference's KMeans surface
    (/root/reference/data_mining_Assignment1.ipynb, SURVEY §2.9 M11) with a fully deterministic, oracle-checkable
    variant: vectors live on an integer micro-unit grid, distances
    are exact integer sums, and centroid updates floor-divide exact
    integer sums — so assignment ties and all arithmetic are
    engine-portable.

    Plan shape per iteration: ASSIGN is a map-only pass (the K
    centroids collapse to a single-row array that is broadcast-cross-
    joined; argmin is a per-row fold — no shuffle, no window);
    UPDATE is posexplode -> groupBy(cluster, dim) partial-aggregated
    sum with K*{D} groups (carrying member count and Σd, so the final
    stats need no extra pass over the assignment). At 100 TB that is the canonical k-means||
    shape: per-iteration cost = one scan + one tiny mergeable agg;
    centroid state is O(K*{D}) and never leaves the plan. (At BIGINT
    corpus scale the per-(cluster,dim) sums would move to
    decimal(38,0) accumulators — at the tested scales the long sum
    is exact by a wide margin.)"""
    _assigned, cents = lloyd_assign(spark, sf_dir, _KM_K, _KM_ITERS)
    # n_members / ss_err ride the centroid aggregate (r15): no second
    # pass over the assignment, no K-row join
    return (
        cents
        .select("cluster_id", F.posexplode("c").alias("dim", "c_micro"),
                "n_members", "ss_err")
        .select("cluster_id", "dim", "c_micro", "n_members", "ss_err")
        .orderBy("cluster_id", "dim"))


ml5_kmeans.__doc__ = ml5_kmeans.__doc__.format(
    K=_KM_K, I=_KM_ITERS, D=EMBEDDING_DIM)


# --------------------------------------------------------------------
# ml6 — kNN classification (M5): exact integer distances, majority vote
# --------------------------------------------------------------------

_KNN_Q = 25   # vec_id < Q are the query points
_KNN_K = 10

_KNN_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(FLOOR(x * {_EMB_SCALE}) AS BIGINT)) AS vq
        FROM embeddings
    ), q AS (SELECT vec_id AS query_id, vq AS qv FROM v
             WHERE vec_id < {_KNN_Q}),
    c AS (SELECT vec_id, label, vq FROM v WHERE vec_id >= {_KNN_Q}),
    nn AS (
        SELECT query_id, label FROM (
            SELECT q.query_id, c.label,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY {_SQ_DIST_SQL.format(d=EMBEDDING_DIM, a='q.qv',
                                                     b='c.vq')},
                                c.vec_id) AS rn
            FROM q, c) WHERE rn <= {_KNN_K}
    ), votes AS (
        SELECT query_id, label, COUNT(*) AS votes
        FROM nn GROUP BY query_id, label
    )
    SELECT query_id, label AS predicted_label, votes FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY votes DESC, label) AS rn
        FROM votes) WHERE rn = 1
    ORDER BY query_id
"""


@query("ml6_knn_classify", oracle=_KNN_ORACLE)
def ml6_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classification (SURVEY §2.9 M5,
    /root/reference/data_mining_Assignment1.ipynb KNeighborsClassifier): each of the {Q} query vectors is labeled by the
    majority label of its {K} nearest corpus vectors under exact
    squared L2 on the micro-unit integer grid (ties: lower vec_id,
    then lower label — deterministic in both engines).

    Plan: the {Q} queries broadcast against the corpus scan; per-row
    integer distance fold; WindowGroupLimit keeps the per-query top
    {K} without a global sort; the vote is a {Q}x|labels| mergeable
    count. At 100 TB the corpus side stays partition-parallel with no
    shuffle of the corpus itself — the same v1_cosine_topk shape, so
    the brute-force cost model (and the v3/v5/v6 ANN escape hatches)
    carry over unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label",
                   _quantized(F.col("embedding")).alias("vq"))
    q = (v.filter(F.col("vec_id") < _KNN_Q)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("vq").alias("qv")))
    c = v.filter(F.col("vec_id") >= _KNN_Q)
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "label", "vec_id",
        sq_l2(F.col("qv"), F.col("vq"), zero=0).alias("d"))
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("vec_id"))
    nn = (scored.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") <= _KNN_K))
    votes = nn.groupBy("query_id", "label").agg(F.count("*").alias("votes"))
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("label"))
    return (votes.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("query_id", F.col("label").alias("predicted_label"),
                    "votes")
            .orderBy("query_id"))


ml6_knn_classify.__doc__ = ml6_knn_classify.__doc__.format(
    Q=_KNN_Q, K=_KNN_K)


# --------------------------------------------------------------------
# ml7 — Gaussian naive Bayes (M6): exact moment training, log-density
# argmax prediction
# --------------------------------------------------------------------

_NB_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(FLOOR(x * {_EMB_SCALE}) AS BIGINT)) AS vq
        FROM embeddings
    ), q AS (SELECT vec_id AS query_id, vq FROM v
             WHERE vec_id < {_KNN_Q}),
    c AS (SELECT label, vq FROM v WHERE vec_id >= {_KNN_Q}),
    st AS (
        SELECT label, i AS dim, COUNT(*) AS n,
               CAST(SUM(vq[i]) AS BIGINT) AS s,
               CAST(SUM(vq[i] * vq[i]) AS BIGINT) AS qq
        FROM c, unnest(generate_series(1, {EMBEDDING_DIM})) AS t(i)
        GROUP BY label, i
    ), packed AS (
        SELECT label, MAX(n) AS n,
               list(CAST(s AS DOUBLE) / n ORDER BY dim) AS mus,
               list((CAST(qq AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                    / (n - 1) ORDER BY dim) AS vrs
        FROM st GROUP BY label
    ), tot AS (SELECT SUM(n) AS total FROM (
        SELECT MAX(n) AS n FROM st GROUP BY label)),
    scored AS (
        SELECT q.query_id, p.label,
               ROUND(ln(CAST(p.n AS DOUBLE) / total)
                     + list_sum(list_transform(
                           generate_series(1, {EMBEDDING_DIM}), i ->
                           -0.5 * ln(2.0 * pi()
                                     * (vrs[i] / {_EMB_SCALE}
                                        / {_EMB_SCALE}))
                           - (CAST(q.vq[i] AS DOUBLE) / {_EMB_SCALE}
                              - mus[i] / {_EMB_SCALE})
                             * (CAST(q.vq[i] AS DOUBLE) / {_EMB_SCALE}
                                - mus[i] / {_EMB_SCALE})
                             / (2.0 * (vrs[i] / {_EMB_SCALE}
                                       / {_EMB_SCALE})))),
                     6) AS score
        FROM q, packed p, tot
    )
    SELECT query_id, label AS predicted_label, score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY score DESC, label) AS rn
        FROM scored) WHERE rn = 1
    ORDER BY query_id
"""


@query("ml7_gaussian_nb", oracle=_NB_ORACLE)
def ml7_gaussian_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian naive Bayes (SURVEY §2.9 M6,
    /root/reference/data_mining_Assignment1.ipynb GaussianNB):
    train per-(label, dim) means/variances from exact integer moment
    sums over the corpus (vec_id >= {Q}), then label each query
    vector by the max posterior log-density (class prior + sum of
    per-dim Gaussian log-likelihoods). Scores are rounded to 6
    decimals BEFORE the argmax in both engines, so the comparison —
    and any tie — is on identical values (ties break to the lower
    label).

    Training is one posexplode + groupBy(label, dim) mergeable agg
    (|labels| x {D} groups) — a single map-side-combinable pass at
    any scale. The fitted model is |labels| rows of two {D}-arrays,
    broadcast to a map-only scoring pass over the queries: model
    state never exceeds O(labels x dims) regardless of corpus size,
    which is the 100 TB shape for all sufficient-statistics models
    (same anatomy as ml1/ml3/ml4)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label",
                   _quantized(F.col("embedding")).alias("vq"))
    q = (v.filter(F.col("vec_id") < _KNN_Q)
         .select(F.col("vec_id").alias("query_id"), "vq"))
    c = v.filter(F.col("vec_id") >= _KNN_Q)
    st = (c.select("label", F.posexplode("vq").alias("dim0", "x"))
          .groupBy("label", "dim0")
          .agg(F.count("*").alias("n"), F.sum("x").alias("s"),
               F.sum(F.col("x") * F.col("x")).alias("qq")))
    nd = F.col("n").cast("double")
    packed = (st.select(
        "label", "dim0", "n",
        (F.col("s").cast("double") / nd).alias("mu"),
        ((F.col("qq").cast("double")
          - F.col("s").cast("double") * F.col("s").cast("double") / nd)
         / (nd - F.lit(1).cast("double"))).alias("vr"))
        .groupBy("label")
        .agg(F.max("n").alias("n"),
             F.array_sort(F.collect_list(F.struct("dim0", "mu", "vr")))
             .alias("sv"))
        .select("label", "n",
                F.transform("sv", lambda t: t["mu"]).alias("mus"),
                F.transform("sv", lambda t: t["vr"]).alias("vrs")))
    tot = packed.agg(F.sum("n").alias("total"))

    two_pi = 2.0 * 3.141592653589793
    sc = F.lit(_EMB_SCALE)

    def _term(acc, i):
        xd = F.element_at(F.col("vq"), i).cast("double") / sc
        mu = F.element_at(F.col("mus"), i) / sc
        va = F.element_at(F.col("vrs"), i) / sc / sc
        return (acc - 0.5 * F.log(F.lit(two_pi) * va)
                - (xd - mu) * (xd - mu) / (2.0 * va))

    scored = (
        q.crossJoin(F.broadcast(packed)).crossJoin(F.broadcast(tot))
        .select(
            "query_id", "label",
            F.round(
                F.log(F.col("n").cast("double") / F.col("total"))
                + F.aggregate(F.sequence(F.lit(1), F.lit(EMBEDDING_DIM)),
                              F.lit(0.0), _term), 6).alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("label"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("query_id", F.col("label").alias("predicted_label"),
                    "score")
            .orderBy("query_id"))


ml7_gaussian_nb.__doc__ = ml7_gaussian_nb.__doc__.format(
    Q=_KNN_Q, D=EMBEDDING_DIM)


# --------------------------------------------------------------------
# ml8 — decision stump (M7): exact-count Gini best split per feature
# --------------------------------------------------------------------

_STUMP_ORACLE = """
    WITH f AS (
        SELECT 'quantity' AS feature, CAST(l_quantity AS BIGINT) AS val,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        UNION ALL
        SELECT 'discount_cents',
               CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT),
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        FROM lineitem
    ), g AS (
        SELECT feature, val, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
        FROM f GROUP BY feature, val
    ), cum AS (
        SELECT feature, val,
               CAST(SUM(n) OVER w AS BIGINT) AS nl,
               CAST(SUM(pos) OVER w AS BIGINT) AS posl,
               CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
               CAST(SUM(pos) OVER (PARTITION BY feature) AS BIGINT)
                   AS post,
               MAX(val) OVER (PARTITION BY feature) AS vmax
        FROM g
        WINDOW w AS (PARTITION BY feature ORDER BY val
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), scored AS (
        SELECT feature, val AS threshold, nl AS n_left,
               nt - nl AS n_right,
               ROUND((CAST(nl AS DOUBLE)
                      * (1.0 - (CAST(posl AS DOUBLE) / nl)
                              * (CAST(posl AS DOUBLE) / nl)
                            - (CAST(nl - posl AS DOUBLE) / nl)
                              * (CAST(nl - posl AS DOUBLE) / nl))
                      + CAST(nt - nl AS DOUBLE)
                      * (1.0 - (CAST(post - posl AS DOUBLE) / (nt - nl))
                              * (CAST(post - posl AS DOUBLE) / (nt - nl))
                            - (CAST((nt - nl) - (post - posl) AS DOUBLE)
                               / (nt - nl))
                              * (CAST((nt - nl) - (post - posl) AS DOUBLE)
                                 / (nt - nl))))
                     / CAST(nt AS DOUBLE), 6) AS gini
        FROM cum WHERE val < vmax
    )
    SELECT feature, threshold, gini, n_left, n_right FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY feature
                      ORDER BY gini, threshold) AS rn
        FROM scored) WHERE rn = 1
    ORDER BY feature
"""


@query("ml8_decision_stump", oracle=_STUMP_ORACLE)
def ml8_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 decision-tree split search (SURVEY §2.9 M7,
    /root/reference/BasicsDecisionTree.ipynb): for each candidate feature (integer
    quantity, discount cents) find the threshold minimizing weighted
    Gini impurity of the split x <= t predicting returnflag == 'R'.
    All class counts are exact integers; the Gini formula runs on
    identical doubles and is rounded before the argmin (ties: lower
    threshold).

    This is the inner loop of distributed tree building (MLlib does
    the same): one groupBy(feature, value) histogram pass — mergeable,
    map-side combined, |features| x |distinct values| groups — then a
    window cumulative sum over the tiny histogram relation. The scan
    cost is ONE pass over the fact table regardless of how many
    thresholds are evaluated; at 100 TB the histogram (~60 rows here)
    is the only shuffled state. Extending to depth-d trees repeats
    the pass per level with a node-id column (ml/pruning.py holds the
    exact cost-complexity machinery)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_returnflag")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    f = li.select(F.explode(F.array(
        F.struct(F.lit("quantity").alias("feature"),
                 F.col("l_quantity").cast("long").alias("val")),
        F.struct(F.lit("discount_cents").alias("feature"),
                 F.floor(F.col("l_discount") * 100.0 + 0.5)
                 .cast("long").alias("val")),
    )).alias("fv"), y.alias("y")).select("fv.feature", "fv.val", "y")
    g = f.groupBy("feature", "val").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos"))
    wcum = (Window.partitionBy("feature").orderBy("val")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wtot = Window.partitionBy("feature")
    cum = g.select(
        "feature", "val",
        F.sum("n").over(wcum).alias("nl"),
        F.sum("pos").over(wcum).alias("posl"),
        F.sum("n").over(wtot).alias("nt"),
        F.sum("pos").over(wtot).alias("post"),
        F.max("val").over(wtot).alias("vmax"))

    def _gini(pos, n):
        p = pos.cast("double") / n.cast("double")
        np_ = (n - pos).cast("double") / n.cast("double")
        return 1.0 - p * p - np_ * np_

    nl, posl = F.col("nl"), F.col("posl")
    nr, posr = F.col("nt") - F.col("nl"), F.col("post") - F.col("posl")
    scored = (cum.filter(F.col("val") < F.col("vmax"))
              .select("feature", F.col("val").alias("threshold"),
                      nl.alias("n_left"), nr.alias("n_right"),
                      F.round((nl.cast("double") * _gini(posl, nl)
                               + nr.cast("double") * _gini(posr, nr))
                              / F.col("nt").cast("double"), 6)
                      .alias("gini")))
    w = Window.partitionBy("feature").orderBy("gini", "threshold")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("feature", "threshold", "gini", "n_left", "n_right")
            .orderBy("feature"))


# --------------------------------------------------------------------
# ml9 — logistic regression via quantized gradient descent (M3)
# --------------------------------------------------------------------

_LR_ITERS = 3
_LR_RATE = 1.0
_GRAD_SCALE = 1_000_000.0


def _logreg_oracle() -> str:
    sql = """
    WITH r AS (
        SELECT CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
               l_discount * 10.0 AS x2,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        FROM lineitem
    ), n AS (SELECT COUNT(*) AS n FROM r),
    b0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"""
    prev = "b0"
    for it in range(1, _LR_ITERS + 1):
        sql += f""",
    g{it} AS (
        SELECT CAST(SUM(CAST(FLOOR((1.0 / (1.0 + exp(-(b.b0 + b.b1 * r.x1
                                                       + b.b2 * r.x2)))
                                    - r.y) * {_GRAD_SCALE})
                             AS BIGINT)) AS BIGINT) AS g0,
               CAST(SUM(CAST(FLOOR(((1.0 / (1.0 + exp(-(b.b0 + b.b1 * r.x1
                                                        + b.b2 * r.x2)))
                                     - r.y) * r.x1) * {_GRAD_SCALE})
                             AS BIGINT)) AS BIGINT) AS g1,
               CAST(SUM(CAST(FLOOR(((1.0 / (1.0 + exp(-(b.b0 + b.b1 * r.x1
                                                        + b.b2 * r.x2)))
                                     - r.y) * r.x2) * {_GRAD_SCALE})
                             AS BIGINT)) AS BIGINT) AS g2
        FROM r, {prev} b
    ), b{it} AS (
        SELECT b.b0 - {_LR_RATE} * (CAST(g.g0 AS DOUBLE)
                                    / {_GRAD_SCALE}) / n.n AS b0,
               b.b1 - {_LR_RATE} * (CAST(g.g1 AS DOUBLE)
                                    / {_GRAD_SCALE}) / n.n AS b1,
               b.b2 - {_LR_RATE} * (CAST(g.g2 AS DOUBLE)
                                    / {_GRAD_SCALE}) / n.n AS b2
        FROM {prev} b, g{it} g, n
    )"""
        prev = f"b{it}"
    sql += f"""
    SELECT ROUND(b.b0, 6) AS beta0, ROUND(b.b1, 6) AS beta1,
           ROUND(b.b2, 6) AS beta2, n.n AS n_rows,
           CAST((SELECT SUM(CASE WHEN (b.b0 + b.b1 * r.x1 + b.b2 * r.x2
                                       >= 0.0) = (r.y = 1.0)
                                 THEN 1 ELSE 0 END) FROM r) AS BIGINT)
               AS n_correct
    FROM {prev} b, n
    """
    return sql


@query("ml9_logistic_gd", oracle=_logreg_oracle())
def ml9_logistic_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression by full-batch gradient descent (SURVEY §2.9 M3,
    /root/reference/Assignment2_for_data_mining.ipynb
    LogisticRegression): predict returnflag == 'R'
    from scaled quantity and discount, {I} iterations at rate {LR},
    emitting the coefficients and the training-set decision accuracy
    numerator. The distributed-SGD portability problem — summing
    60k+ per-row double gradients gives order-dependent last bits —
    is solved the integer-PageRank way: each row's gradient
    contribution is floor-quantized to 1e-6 grid units and summed
    EXACTLY as integers, so the coefficient trajectory is identical
    in any engine and under any partitioning.

    Per iteration: one scan + a 3-value mergeable aggregate (the
    model broadcast back as a single-row cross join). At 100 TB this
    is textbook distributed full-batch GD — per-iteration cost is
    one map pass, model state is O(features), and nothing ever
    shuffles but three partial sums per task."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity").cast("double") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
        .alias("y"))
    n = li.agg(F.count("*").alias("n"))
    b = n.select(F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"),
                 F.lit(0.0).alias("b2"))
    gs = F.lit(_GRAD_SCALE)
    for _ in range(_LR_ITERS):
        z = F.col("b0") + F.col("b1") * F.col("x1") \
            + F.col("b2") * F.col("x2")
        resid = 1.0 / (1.0 + F.exp(-z)) - F.col("y")
        g = (li.crossJoin(F.broadcast(b))
             .agg(F.sum(F.floor(resid * gs).cast("long")).alias("g0"),
                  F.sum(F.floor((resid * F.col("x1")) * gs)
                        .cast("long")).alias("g1"),
                  F.sum(F.floor((resid * F.col("x2")) * gs)
                        .cast("long")).alias("g2")))
        b = (b.crossJoin(F.broadcast(g)).crossJoin(F.broadcast(n))
             .select(
                 (F.col("b0") - _LR_RATE * (F.col("g0").cast("double")
                                            / gs) / F.col("n"))
                 .alias("b0"),
                 (F.col("b1") - _LR_RATE * (F.col("g1").cast("double")
                                            / gs) / F.col("n"))
                 .alias("b1"),
                 (F.col("b2") - _LR_RATE * (F.col("g2").cast("double")
                                            / gs) / F.col("n"))
                 .alias("b2")))
    zf = F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2")
    acc = (li.crossJoin(F.broadcast(b))
           .agg(F.sum(F.when((zf >= 0.0) == (F.col("y") == 1.0), 1)
                      .otherwise(0)).alias("n_correct")))
    return (b.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(acc))
            .select(F.round("b0", 6).alias("beta0"),
                    F.round("b1", 6).alias("beta1"),
                    F.round("b2", 6).alias("beta2"),
                    F.col("n").alias("n_rows"),
                    F.col("n_correct")))


ml9_logistic_gd.__doc__ = ml9_logistic_gd.__doc__.format(
    I=_LR_ITERS, LR=_LR_RATE)


# --------------------------------------------------------------------
# ml10 — PCA on two features: closed-form 2x2 eigendecomposition (M12)
# --------------------------------------------------------------------

_PCA_ORACLE = """
    WITH r AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS x2
        FROM lineitem
    ), s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(x1 * x1) AS BIGINT) AS q11,
               CAST(SUM(x2 * x2) AS BIGINT) AS q22,
               CAST(SUM(x1 * x2) AS BIGINT) AS q12
        FROM r
    ), cov AS (
        SELECT n,
               (CAST(q11 AS DOUBLE) - CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE) / n) / (n - 1) AS a,
               (CAST(q12 AS DOUBLE) - CAST(s1 AS DOUBLE)
                * CAST(s2 AS DOUBLE) / n) / (n - 1) AS b,
               (CAST(q22 AS DOUBLE) - CAST(s2 AS DOUBLE)
                * CAST(s2 AS DOUBLE) / n) / (n - 1) AS c
        FROM s
    ), eig AS (
        SELECT n, a, b, c,
               (a + c) / 2.0 + sqrt((a - c) / 2.0 * ((a - c) / 2.0)
                                    + b * b) AS l1,
               (a + c) / 2.0 - sqrt((a - c) / 2.0 * ((a - c) / 2.0)
                                    + b * b) AS l2
        FROM cov
    )
    SELECT n AS n_rows, ROUND(a, 6) AS var_x1, ROUND(c, 6) AS var_x2,
           ROUND(b, 6) AS cov_x1x2,
           ROUND(l1, 6) AS lambda1, ROUND(l2, 6) AS lambda2,
           ROUND(l1 / (l1 + l2), 6) AS explained_ratio,
           ROUND(CASE WHEN b < 0.0 THEN -b ELSE b END
                 / sqrt(b * b + (l1 - a) * (l1 - a)), 6) AS pc1_x,
           ROUND(CASE WHEN b < 0.0 THEN -(l1 - a) ELSE (l1 - a) END
                 / sqrt(b * b + (l1 - a) * (l1 - a)), 6) AS pc1_y
    FROM eig
"""


@query("ml10_pca_2feature", oracle=_PCA_ORACLE)
def ml10_pca_2feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over (quantity, discount-cents) via the closed-form 2x2
    eigendecomposition (SURVEY §2.9 M12,
    /root/reference/data_mining_Assignment1.ipynb PCA):
    exact integer moment sums -> sample covariance matrix -> the
    quadratic-formula eigenvalues, explained-variance ratio, and the
    first principal component (sign normalized so pc1_x >= 0). Every
    input to the double-precision formulas is an exact BIGINT, and
    the formulas are written with identical operation order in both
    engines — the same discipline that makes ml1/ml3/ml4 hash-match.

    One scan, one 6-value mergeable aggregate, one row of final
    arithmetic: the canonical sufficient-statistics PCA that MLlib's
    RowMatrix.computeCovariance runs at any scale (the general d-dim
    eigensolve lives in ml/cluster.py via numpy on the d x d driver
    matrix — d x d is driver-sized even at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long")
        .alias("x2"))
    s = li.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("q11"),
        F.sum(F.col("x2") * F.col("x2")).alias("q22"),
        F.sum(F.col("x1") * F.col("x2")).alias("q12"))
    nd = F.col("n").cast("double")
    a = ((F.col("q11").cast("double")
          - F.col("s1").cast("double") * F.col("s1").cast("double") / nd)
         / (nd - 1))
    bb = ((F.col("q12").cast("double")
           - F.col("s1").cast("double") * F.col("s2").cast("double") / nd)
          / (nd - 1))
    c = ((F.col("q22").cast("double")
          - F.col("s2").cast("double") * F.col("s2").cast("double") / nd)
         / (nd - 1))
    cov = s.select("n", a.alias("a"), bb.alias("b"), c.alias("c"))
    half = (F.col("a") + F.col("c")) / 2.0
    rad = F.sqrt((F.col("a") - F.col("c")) / 2.0
                 * ((F.col("a") - F.col("c")) / 2.0)
                 + F.col("b") * F.col("b"))
    eig = cov.select("n", "a", "b", "c",
                     (half + rad).alias("l1"), (half - rad).alias("l2"))
    bneg = F.col("b") < 0.0
    vx = F.when(bneg, -F.col("b")).otherwise(F.col("b"))
    vy = F.when(bneg, -(F.col("l1") - F.col("a"))) \
        .otherwise(F.col("l1") - F.col("a"))
    norm = F.sqrt(F.col("b") * F.col("b")
                  + (F.col("l1") - F.col("a"))
                  * (F.col("l1") - F.col("a")))
    return eig.select(
        F.col("n").alias("n_rows"),
        F.round("a", 6).alias("var_x1"),
        F.round("c", 6).alias("var_x2"),
        F.round("b", 6).alias("cov_x1x2"),
        F.round("l1", 6).alias("lambda1"),
        F.round("l2", 6).alias("lambda2"),
        F.round(F.col("l1") / (F.col("l1") + F.col("l2")), 6)
        .alias("explained_ratio"),
        F.round(vx / norm, 6).alias("pc1_x"),
        F.round(vy / norm, 6).alias("pc1_y"))


# --------------------------------------------------------------------
# ml11 — linear discriminant analysis, 2 features / 2 classes (M4)
# --------------------------------------------------------------------

_LDA_ORACLE = """
    WITH r AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS x2,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ), s AS (
        SELECT CAST(SUM(y) AS BIGINT) AS n1,
               CAST(SUM(1 - y) AS BIGINT) AS n0,
               CAST(SUM(y * x1) AS BIGINT) AS s1p,
               CAST(SUM(y * x2) AS BIGINT) AS s2p,
               CAST(SUM((1 - y) * x1) AS BIGINT) AS s1n,
               CAST(SUM((1 - y) * x2) AS BIGINT) AS s2n,
               CAST(SUM(y * x1 * x1) AS BIGINT) AS q11p,
               CAST(SUM(y * x2 * x2) AS BIGINT) AS q22p,
               CAST(SUM(y * x1 * x2) AS BIGINT) AS q12p,
               CAST(SUM((1 - y) * x1 * x1) AS BIGINT) AS q11n,
               CAST(SUM((1 - y) * x2 * x2) AS BIGINT) AS q22n,
               CAST(SUM((1 - y) * x1 * x2) AS BIGINT) AS q12n
        FROM r
    ), m AS (
        SELECT n1, n0,
               CAST(s1p AS DOUBLE) / n1 AS m1p,
               CAST(s2p AS DOUBLE) / n1 AS m2p,
               CAST(s1n AS DOUBLE) / n0 AS m1n,
               CAST(s2n AS DOUBLE) / n0 AS m2n,
               ((CAST(q11p AS DOUBLE) - CAST(s1p AS DOUBLE)
                 * CAST(s1p AS DOUBLE) / n1)
                + (CAST(q11n AS DOUBLE) - CAST(s1n AS DOUBLE)
                   * CAST(s1n AS DOUBLE) / n0)) / (n1 + n0 - 2) AS sa,
               ((CAST(q12p AS DOUBLE) - CAST(s1p AS DOUBLE)
                 * CAST(s2p AS DOUBLE) / n1)
                + (CAST(q12n AS DOUBLE) - CAST(s1n AS DOUBLE)
                   * CAST(s2n AS DOUBLE) / n0)) / (n1 + n0 - 2) AS sb,
               ((CAST(q22p AS DOUBLE) - CAST(s2p AS DOUBLE)
                 * CAST(s2p AS DOUBLE) / n1)
                + (CAST(q22n AS DOUBLE) - CAST(s2n AS DOUBLE)
                   * CAST(s2n AS DOUBLE) / n0)) / (n1 + n0 - 2) AS sc
        FROM s
    ), w AS (
        SELECT n1, n0, m1p, m2p, m1n, m2n,
               (sc * (m1p - m1n) - sb * (m2p - m2n))
                   / (sa * sc - sb * sb) AS w1,
               (sa * (m2p - m2n) - sb * (m1p - m1n))
                   / (sa * sc - sb * sb) AS w2
        FROM m
    ), model AS (
        SELECT n1, n0, w1, w2,
               w1 * ((m1p + m1n) / 2.0) + w2 * ((m2p + m2n) / 2.0)
               - ln(CAST(n1 AS DOUBLE) / n0) AS thr
        FROM w
    )
    SELECT model.n1 AS n_pos, model.n0 AS n_neg,
           ROUND(model.w1, 6) AS w1, ROUND(model.w2, 6) AS w2,
           ROUND(model.thr, 6) AS threshold,
           CAST((SELECT SUM(CASE WHEN (model.w1 * r.x1 + model.w2 * r.x2
                                       > model.thr) = (r.y = 1)
                                 THEN 1 ELSE 0 END) FROM r) AS BIGINT)
               AS n_correct
    FROM model
"""


@query("ml11_lda_2feature", oracle=_LDA_ORACLE)
def ml11_lda_2feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-class linear discriminant analysis on (quantity, discount
    cents) predicting returnflag == 'R' (SURVEY §2.9 M4,
    /root/reference/Assignment2_for_data_mining.ipynb
    LinearDiscriminantAnalysis): class means and the pooled covariance come from
    ONE pass of 12 exact integer sufficient statistics; the 2x2
    inverse and the discriminant w = S^-1 (mu1 - mu0) are closed-form
    doubles with identical op order; the decision threshold folds in
    the log prior ratio. A second broadcast-model pass counts the
    training decisions that match the labels.

    Training is a single mergeable 12-stat aggregate (the LDA
    sufficient-statistics identity — no per-class scan), scoring is
    map-only with a single-row model: both passes keep their cost
    linear in the scan at any scale, the same anatomy as ml1/ml3."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long")
        .alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"))
    yv, x1, x2 = F.col("y"), F.col("x1"), F.col("x2")
    s = li.agg(
        F.sum(yv).cast("long").alias("n1"),
        F.sum(1 - yv).cast("long").alias("n0"),
        F.sum(yv * x1).alias("s1p"), F.sum(yv * x2).alias("s2p"),
        F.sum((1 - yv) * x1).alias("s1n"),
        F.sum((1 - yv) * x2).alias("s2n"),
        F.sum(yv * x1 * x1).alias("q11p"),
        F.sum(yv * x2 * x2).alias("q22p"),
        F.sum(yv * x1 * x2).alias("q12p"),
        F.sum((1 - yv) * x1 * x1).alias("q11n"),
        F.sum((1 - yv) * x2 * x2).alias("q22n"),
        F.sum((1 - yv) * x1 * x2).alias("q12n"))
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")

    def _c(q, sa, sb, na, nb=None):
        nb = na if nb is None else nb
        return (F.col(q).cast("double")
                - F.col(sa).cast("double") * F.col(sb).cast("double") / na)

    pooled = (n1d + n0d - 2)
    m = s.select(
        "n1", "n0",
        (F.col("s1p").cast("double") / n1d).alias("m1p"),
        (F.col("s2p").cast("double") / n1d).alias("m2p"),
        (F.col("s1n").cast("double") / n0d).alias("m1n"),
        (F.col("s2n").cast("double") / n0d).alias("m2n"),
        ((_c("q11p", "s1p", "s1p", n1d) + _c("q11n", "s1n", "s1n", n0d))
         / pooled).alias("sa"),
        ((_c("q12p", "s1p", "s2p", n1d) + _c("q12n", "s1n", "s2n", n0d))
         / pooled).alias("sb"),
        ((_c("q22p", "s2p", "s2p", n1d) + _c("q22n", "s2n", "s2n", n0d))
         / pooled).alias("sc"))
    det = F.col("sa") * F.col("sc") - F.col("sb") * F.col("sb")
    dm1, dm2 = F.col("m1p") - F.col("m1n"), F.col("m2p") - F.col("m2n")
    w = m.select(
        "n1", "n0", "m1p", "m2p", "m1n", "m2n",
        ((F.col("sc") * dm1 - F.col("sb") * dm2) / det).alias("w1"),
        ((F.col("sa") * dm2 - F.col("sb") * dm1) / det).alias("w2"))
    model = w.select(
        "n1", "n0", "w1", "w2",
        (F.col("w1") * ((F.col("m1p") + F.col("m1n")) / 2.0)
         + F.col("w2") * ((F.col("m2p") + F.col("m2n")) / 2.0)
         - F.log(F.col("n1").cast("double") / F.col("n0").cast("double")))
        .alias("thr"))
    correct = (li.crossJoin(F.broadcast(model))
               .agg(F.sum(F.when(
                   (F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
                    > F.col("thr")) == (F.col("y") == 1), 1)
                   .otherwise(0)).alias("n_correct")))
    return (model.crossJoin(F.broadcast(correct))
            .select(F.col("n1").alias("n_pos"), F.col("n0").alias("n_neg"),
                    F.round("w1", 6).alias("w1"),
                    F.round("w2", 6).alias("w2"),
                    F.round("thr", 6).alias("threshold"),
                    "n_correct"))


# --------------------------------------------------------------------
# ml12 — linear SVM via quantized subgradient descent (M10)
# --------------------------------------------------------------------

_SVM_ITERS = 3
_SVM_LAMBDA = 0.01
_SVM_RATE = 0.5


def _svm_oracle() -> str:
    sql = """
    WITH r AS (
        SELECT CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
               l_discount * 10.0 AS x2,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE -1.0 END AS y
        FROM lineitem
    ), n AS (SELECT COUNT(*) AS n FROM r),
    w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"""
    prev = "w0"
    marg = "r.y * (w.w0 + w.w1 * r.x1 + w.w2 * r.x2) < 1.0"
    for it in range(1, _SVM_ITERS + 1):
        sql += f""",
    g{it} AS (
        SELECT CAST(SUM(CAST(FLOOR((CASE WHEN {marg} THEN -r.y
                                    ELSE 0.0 END) * 1000000.0)
                             AS BIGINT)) AS BIGINT) AS g0,
               CAST(SUM(CAST(FLOOR((CASE WHEN {marg} THEN -r.y * r.x1
                                    ELSE 0.0 END) * 1000000.0)
                             AS BIGINT)) AS BIGINT) AS g1,
               CAST(SUM(CAST(FLOOR((CASE WHEN {marg} THEN -r.y * r.x2
                                    ELSE 0.0 END) * 1000000.0)
                             AS BIGINT)) AS BIGINT) AS g2
        FROM r, {prev} w
    ), w{it} AS (
        SELECT w.w0 - {_SVM_RATE} * ((CAST(g.g0 AS DOUBLE) / 1000000.0)
                                     / n.n) AS w0,
               w.w1 - {_SVM_RATE} * ({_SVM_LAMBDA} * w.w1
                                     + (CAST(g.g1 AS DOUBLE) / 1000000.0)
                                       / n.n) AS w1,
               w.w2 - {_SVM_RATE} * ({_SVM_LAMBDA} * w.w2
                                     + (CAST(g.g2 AS DOUBLE) / 1000000.0)
                                       / n.n) AS w2
        FROM {prev} w, g{it} g, n
    )"""
        prev = f"w{it}"
    sql += f"""
    SELECT ROUND(w.w0, 6) AS w0, ROUND(w.w1, 6) AS w1,
           ROUND(w.w2, 6) AS w2, n.n AS n_rows,
           CAST((SELECT SUM(CASE WHEN r.y * (w.w0 + w.w1 * r.x1
                                             + w.w2 * r.x2) < 1.0
                                 THEN 1 ELSE 0 END) FROM r) AS BIGINT)
               AS n_margin_violations
    FROM {prev} w, n
    """
    return sql


@query("ml12_svm_subgradient", oracle=_svm_oracle())
def ml12_svm_subgradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear soft-margin SVM by full-batch subgradient descent
    (SURVEY §2.9 M10, /root/reference/SVM.ipynb): hinge loss + L2
    (lambda={L}), {I} iterations at rate {R}, unregularized bias.
    Same portability move as ml9: each row's subgradient contribution
    is floor-quantized to the 1e-6 grid and summed exactly, so the
    weight trajectory is partitioning-independent; the L2 term is
    driver-free single-row arithmetic. Emits the weights and the
    final margin-violation count.

    Per iteration: one scan + a 3-value mergeable aggregate with the
    single-row model broadcast back — identical 100 TB anatomy to
    ml9 (and to Spark MLlib's own LinearSVC aggregator)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity").cast("double") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(-1.0)
        .alias("y"))
    n = li.agg(F.count("*").alias("n"))
    w = n.select(F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1"),
                 F.lit(0.0).alias("w2"))
    gs = F.lit(1_000_000.0)
    for _ in range(_SVM_ITERS):
        z = F.col("w0") + F.col("w1") * F.col("x1") \
            + F.col("w2") * F.col("x2")
        viol = F.col("y") * z < 1.0

        def _g(expr):
            return F.sum(F.floor(
                F.when(viol, expr).otherwise(0.0) * gs).cast("long"))

        g = (li.crossJoin(F.broadcast(w))
             .agg(_g(-F.col("y")).alias("g0"),
                  _g(-F.col("y") * F.col("x1")).alias("g1"),
                  _g(-F.col("y") * F.col("x2")).alias("g2")))
        nd = F.col("n").cast("double")
        w = (w.crossJoin(F.broadcast(g)).crossJoin(F.broadcast(n))
             .select(
                 (F.col("w0") - _SVM_RATE
                  * ((F.col("g0").cast("double") / gs) / nd)).alias("w0"),
                 (F.col("w1") - _SVM_RATE
                  * (_SVM_LAMBDA * F.col("w1")
                     + (F.col("g1").cast("double") / gs) / nd))
                 .alias("w1"),
                 (F.col("w2") - _SVM_RATE
                  * (_SVM_LAMBDA * F.col("w2")
                     + (F.col("g2").cast("double") / gs) / nd))
                 .alias("w2")))
    zf = F.col("w0") + F.col("w1") * F.col("x1") \
        + F.col("w2") * F.col("x2")
    viols = (li.crossJoin(F.broadcast(w))
             .agg(F.sum(F.when(F.col("y") * zf < 1.0, 1).otherwise(0))
                  .alias("n_margin_violations")))
    return (w.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(viols))
            .select(F.round("w0", 6).alias("w0"),
                    F.round("w1", 6).alias("w1"),
                    F.round("w2", 6).alias("w2"),
                    F.col("n").alias("n_rows"),
                    "n_margin_violations"))


ml12_svm_subgradient.__doc__ = ml12_svm_subgradient.__doc__.format(
    L=_SVM_LAMBDA, I=_SVM_ITERS, R=_SVM_RATE)


# --------------------------------------------------------------------
# ml13 — exact ties-corrected ROC AUC from the value histogram (M19)
# --------------------------------------------------------------------

_AUC_ORACLE = """
    WITH r AS (
        SELECT CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ), h AS (
        SELECT v, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
        FROM r GROUP BY v
    ), cum AS (
        SELECT v, n, pos,
               CAST(COALESCE(SUM(n) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS below
        FROM h
    ), u AS (
        SELECT CAST(SUM(pos * (2 * below + n + 1)) AS BIGINT)
                   AS two_rank_sum,
               CAST(SUM(pos) AS BIGINT) AS n1,
               CAST(SUM(n - pos) AS BIGINT) AS n0
        FROM cum
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           ROUND((CAST(two_rank_sum AS DOUBLE) / 2.0
                  - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)
                    / 2.0)
                 / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
               AS auc,
           ROUND(2.0 * ((CAST(two_rank_sum AS DOUBLE) / 2.0
                         - CAST(n1 AS DOUBLE)
                           * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
                        / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)))
                 - 1.0, 6) AS gini_coeff
    FROM u
"""


@query("ml13_roc_auc", oracle=_AUC_ORACLE)
def ml13_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ties-corrected ROC AUC (SURVEY §2.9 M19; the rank-sum
    identity behind evaluate.roc_auc) of discount-as-score predicting
    returnflag == 'R': AUC = (R1 - n1(n1+1)/2) / (n1 n0) with R1 the
    midrank sum of positives. Midranks are half-integers, so the
    query carries 2*R1 as an exact BIGINT (pos_v * (2*below_v + n_v
    + 1) per value) — everything up to the final division is integer
    arithmetic.

    The st3/st4 histogram-first discipline: aggregate to the
    |distinct score| histogram BEFORE any unpartitioned window, so
    the window input is ~11 rows regardless of fact-table size. One
    scan, one mergeable agg, O(|values|) tail — AUC at 100 TB costs
    the same as a count(*)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long")
        .alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"))
    h = li.groupBy("v").agg(F.count("*").alias("n"),
                            F.sum("y").cast("long").alias("pos"))
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = h.select(
        "v", "n", "pos",
        F.coalesce(F.sum("n").over(wb), F.lit(0)).cast("long")
        .alias("below"))
    u = cum.agg(
        F.sum(F.col("pos") * (2 * F.col("below") + F.col("n") + 1))
        .cast("long").alias("two_rank_sum"),
        F.sum("pos").cast("long").alias("n1"),
        F.sum(F.col("n") - F.col("pos")).cast("long").alias("n0"))
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    auc = ((F.col("two_rank_sum").cast("double") / 2.0
            - n1d * (n1d + 1.0) / 2.0) / (n1d * n0d))
    return u.select(
        F.col("n1").alias("n_pos"), F.col("n0").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(2.0 * auc - 1.0, 6).alias("gini_coeff"))


# --------------------------------------------------------------------
# ml16 — quadratic discriminant analysis, 2 features / 2 classes (M4)
# --------------------------------------------------------------------

def _qda_class_sql(tag: str, yexpr: str) -> str:
    """Per-class exact moment stats -> mean + covariance entries."""
    return f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n{tag},
               CAST(SUM(x1) AS BIGINT) AS s1{tag},
               CAST(SUM(x2) AS BIGINT) AS s2{tag},
               CAST(SUM(x1 * x1) AS BIGINT) AS q11{tag},
               CAST(SUM(x2 * x2) AS BIGINT) AS q22{tag},
               CAST(SUM(x1 * x2) AS BIGINT) AS q12{tag}
        FROM r WHERE {yexpr}"""


_QDA_ORACLE = f"""
    WITH r AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS x2,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ), sp AS ({_qda_class_sql('p', 'y = 1')}),
    sn AS ({_qda_class_sql('n', 'y = 0')}),
    m AS (
        SELECT np, nn, m1p, m2p, m1n, m2n,
               ap, bp, cp, ap * cp - bp * bp AS detp,
               an, bn, cn, an * cn - bn * bn AS detn
        FROM (
            SELECT np, nn,
                   CAST(s1p AS DOUBLE) / np AS m1p,
                   CAST(s2p AS DOUBLE) / np AS m2p,
                   CAST(s1n AS DOUBLE) / nn AS m1n,
                   CAST(s2n AS DOUBLE) / nn AS m2n,
                   (CAST(q11p AS DOUBLE) - CAST(s1p AS DOUBLE)
                    * CAST(s1p AS DOUBLE) / np) / (np - 1) AS ap,
                   (CAST(q12p AS DOUBLE) - CAST(s1p AS DOUBLE)
                    * CAST(s2p AS DOUBLE) / np) / (np - 1) AS bp,
                   (CAST(q22p AS DOUBLE) - CAST(s2p AS DOUBLE)
                    * CAST(s2p AS DOUBLE) / np) / (np - 1) AS cp,
                   (CAST(q11n AS DOUBLE) - CAST(s1n AS DOUBLE)
                    * CAST(s1n AS DOUBLE) / nn) / (nn - 1) AS an,
                   (CAST(q12n AS DOUBLE) - CAST(s1n AS DOUBLE)
                    * CAST(s2n AS DOUBLE) / nn) / (nn - 1) AS bn,
                   (CAST(q22n AS DOUBLE) - CAST(s2n AS DOUBLE)
                    * CAST(s2n AS DOUBLE) / nn) / (nn - 1) AS cn
            FROM (SELECT np, s1p, s2p, q11p, q22p, q12p,
                         nn, s1n, s2n, q11n, q22n, q12n
                  FROM sp, sn))
    ), scored AS (
        SELECT r.y,
               (-0.5 * ln(detp)
                - 0.5 * (((r.x1 - m1p) * (cp * (r.x1 - m1p)
                                          - bp * (r.x2 - m2p))
                          + (r.x2 - m2p) * (ap * (r.x2 - m2p)
                                            - bp * (r.x1 - m1p)))
                         / detp)
                + ln(CAST(np AS DOUBLE) / (np + nn)))
               -
               (-0.5 * ln(detn)
                - 0.5 * (((r.x1 - m1n) * (cn * (r.x1 - m1n)
                                          - bn * (r.x2 - m2n))
                          + (r.x2 - m2n) * (an * (r.x2 - m2n)
                                            - bn * (r.x1 - m1n)))
                         / detn)
                + ln(CAST(nn AS DOUBLE) / (np + nn))) AS margin
        FROM r, m
    )
    SELECT (SELECT np FROM m) AS n_pos, (SELECT nn FROM m) AS n_neg,
           ROUND((SELECT detp FROM m), 6) AS det_pos,
           ROUND((SELECT detn FROM m), 6) AS det_neg,
           CAST(SUM(CASE WHEN (margin > 0.0) = (y = 1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN margin > 0.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pred_pos
    FROM scored
"""


@query("ml16_qda_2feature", oracle=_QDA_ORACLE)
def ml16_qda_2feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-class quadratic discriminant analysis on (quantity,
    discount cents) — the per-class-covariance half of SURVEY §2.9 M4
    (/root/reference/data_mining_Assignment1.ipynb
    QuadraticDiscriminantAnalysis; ml11 covers the pooled/linear
    half): per-class means and 2x2 covariances from one pass of
    exact integer moments, the quadratic decision margin evaluated
    with the adjugate-inverse closed form (no matrix library), and
    training decisions counted exactly. The log-determinant and
    Mahalanobis terms are doubles with identical op order; the margin
    sign drives exact integer counts, so no rounding ambiguity enters
    the output.

    One 12-stat conditional aggregate (both classes in one pass on
    the Spark side), one broadcast-model scoring pass — the ml11
    anatomy with a quadratic instead of linear decision surface."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long")
        .alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"))
    yv, x1, x2 = F.col("y"), F.col("x1"), F.col("x2")
    s = li.agg(
        F.sum(yv).cast("long").alias("np"),
        F.sum(1 - yv).cast("long").alias("nn"),
        F.sum(yv * x1).alias("s1p"), F.sum(yv * x2).alias("s2p"),
        F.sum((1 - yv) * x1).alias("s1n"),
        F.sum((1 - yv) * x2).alias("s2n"),
        F.sum(yv * x1 * x1).alias("q11p"),
        F.sum(yv * x2 * x2).alias("q22p"),
        F.sum(yv * x1 * x2).alias("q12p"),
        F.sum((1 - yv) * x1 * x1).alias("q11n"),
        F.sum((1 - yv) * x2 * x2).alias("q22n"),
        F.sum((1 - yv) * x1 * x2).alias("q12n"))

    def _cov(q, sa, sb, n):
        return ((F.col(q).cast("double")
                 - F.col(sa).cast("double") * F.col(sb).cast("double")
                 / n) / (n - 1))

    npd, nnd = F.col("np").cast("double"), F.col("nn").cast("double")
    m = s.select(
        "np", "nn",
        (F.col("s1p").cast("double") / npd).alias("m1p"),
        (F.col("s2p").cast("double") / npd).alias("m2p"),
        (F.col("s1n").cast("double") / nnd).alias("m1n"),
        (F.col("s2n").cast("double") / nnd).alias("m2n"),
        _cov("q11p", "s1p", "s1p", npd).alias("ap"),
        _cov("q12p", "s1p", "s2p", npd).alias("bp"),
        _cov("q22p", "s2p", "s2p", npd).alias("cp"),
        _cov("q11n", "s1n", "s1n", nnd).alias("an"),
        _cov("q12n", "s1n", "s2n", nnd).alias("bn"),
        _cov("q22n", "s2n", "s2n", nnd).alias("cn"))
    m = m.select("*",
                 (F.col("ap") * F.col("cp") - F.col("bp") * F.col("bp"))
                 .alias("detp"),
                 (F.col("an") * F.col("cn") - F.col("bn") * F.col("bn"))
                 .alias("detn"))

    def _logdens(d1, d2, a, b, c, det, n):
        quad = (d1 * (c * d1 - b * d2) + d2 * (a * d2 - b * d1)) / det
        return (-0.5 * F.log(det) - 0.5 * quad
                + F.log(n / (F.col("np").cast("double")
                             + F.col("nn").cast("double"))))

    d1p, d2p = x1 - F.col("m1p"), x2 - F.col("m2p")
    d1n, d2n = x1 - F.col("m1n"), x2 - F.col("m2n")
    margin = (_logdens(d1p, d2p, F.col("ap"), F.col("bp"), F.col("cp"),
                       F.col("detp"), F.col("np").cast("double"))
              - _logdens(d1n, d2n, F.col("an"), F.col("bn"), F.col("cn"),
                         F.col("detn"), F.col("nn").cast("double")))
    scored = (li.crossJoin(F.broadcast(m))
              .agg(F.sum(F.when((margin > 0.0) == (yv == 1), 1)
                         .otherwise(0)).alias("n_correct"),
                   F.sum(F.when(margin > 0.0, 1).otherwise(0))
                   .alias("n_pred_pos")))
    return (m.crossJoin(F.broadcast(scored))
            .select(F.col("np").alias("n_pos"),
                    F.col("nn").alias("n_neg"),
                    F.round("detp", 6).alias("det_pos"),
                    F.round("detn", 6).alias("det_neg"),
                    "n_correct", "n_pred_pos"))


# --------------------------------------------------------------------
# ml19 — polynomial regression (M2): quadratic fit via exact power
# moments
# --------------------------------------------------------------------

_POLY_ORACLE = """
    WITH r AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
        FROM lineitem
    ), s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(x * x) AS BIGINT) AS s2,
               CAST(SUM(x * x * x) AS BIGINT) AS s3,
               CAST(SUM(x * x * x * x) AS BIGINT) AS s4,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS q1y,
               CAST(SUM(x * x * y) AS BIGINT) AS q2y,
               SUM(y * y) AS syy
        FROM r
    ), m AS (
        SELECT n, s1, s2, sy, CAST(syy AS DOUBLE) AS syy,
               CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(s1 AS DOUBLE) / n AS a11,
               CAST(s3 AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(s2 AS DOUBLE) / n AS a12,
               CAST(s4 AS DOUBLE) - CAST(s2 AS DOUBLE)
                   * CAST(s2 AS DOUBLE) / n AS a22,
               CAST(q1y AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(sy AS DOUBLE) / n AS b1,
               CAST(q2y AS DOUBLE) - CAST(s2 AS DOUBLE)
                   * CAST(sy AS DOUBLE) / n AS b2
        FROM s
    ), w AS (
        SELECT n, s1, s2, sy, syy, b1, b2, a11, a12, a22,
               (b1 * a22 - a12 * b2) / (a11 * a22 - a12 * a12) AS w1,
               (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS w2
        FROM m
    )
    SELECT n AS n_rows,
           ROUND((CAST(sy AS DOUBLE) - w1 * s1 - w2 * s2)
                 / CAST(n AS DOUBLE) / 100.0, 6) AS beta0_dollars,
           ROUND(w1 / 100.0, 6) AS beta1_dollars,
           ROUND(w2 / 100.0, 6) AS beta2_dollars,
           ROUND((w1 * b1 + w2 * b2)
                 / (syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                    / CAST(n AS DOUBLE)), 6) AS r_squared
    FROM w
"""


@query("ml19_poly_regression", oracle=_POLY_ORACLE)
def ml19_poly_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic polynomial regression of line price on quantity
    (SURVEY §2.9 M2, the distributed form of ml/features.
    polynomial_terms + OLS): the degree-2 fit needs only the exact
    power moments sum(x..x^4), sum(y), sum(xy), sum(x^2 y) — one
    mergeable 9-stat aggregate — and the centered normal equations
    solve by Cramer's rule. R^2 comes from the explained-sum identity
    w·b / Syy, with sum(y^2) accumulated as decimal(38,0) (cents^2
    exceeds BIGINT at large scale factors in Spark's long sums).

    Degree-d polynomial regression at 100 TB is the SAME single scan
    with 2d+1 power moments — the feature expansion never
    materializes, which is exactly why moment-based fitting beats
    assembling an explicit Vandermonde matrix distributively."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
        .alias("y"))
    x, y = F.col("x"), F.col("y")
    s = li.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"), F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"), F.sum(x * x * x * x).alias("s4"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("q1y"), F.sum(x * x * y).alias("q2y"),
        F.sum((y * y).cast("decimal(38,0)")).alias("syy"))
    nd = F.col("n").cast("double")
    a11 = F.col("s2").cast("double") \
        - F.col("s1").cast("double") * F.col("s1").cast("double") / nd
    a12 = F.col("s3").cast("double") \
        - F.col("s1").cast("double") * F.col("s2").cast("double") / nd
    a22 = F.col("s4").cast("double") \
        - F.col("s2").cast("double") * F.col("s2").cast("double") / nd
    b1 = F.col("q1y").cast("double") \
        - F.col("s1").cast("double") * F.col("sy").cast("double") / nd
    b2 = F.col("q2y").cast("double") \
        - F.col("s2").cast("double") * F.col("sy").cast("double") / nd
    det = a11 * a22 - a12 * a12
    w1 = (b1 * a22 - a12 * b2) / det
    w2 = (a11 * b2 - a12 * b1) / det
    syy_c = (F.col("syy").cast("double")
             - F.col("sy").cast("double") * F.col("sy").cast("double")
             / nd)
    return s.select(
        F.col("n").alias("n_rows"),
        F.round((F.col("sy").cast("double") - w1 * F.col("s1")
                 - w2 * F.col("s2")) / nd / 100.0, 6)
        .alias("beta0_dollars"),
        F.round(w1 / 100.0, 6).alias("beta1_dollars"),
        F.round(w2 / 100.0, 6).alias("beta2_dollars"),
        F.round((w1 * b1 + w2 * b2) / syy_c, 6).alias("r_squared"))


# --------------------------------------------------------------------
# ml20 — variance inflation factors (M20): collinearity audit from
# one moment matrix
# --------------------------------------------------------------------

def _vif_r2_sql(j: str, a: str, b: str) -> str:
    """R^2 of x_j regressed on (x_a, x_b) from centered moments
    c{ij} (doubles built upstream)."""
    return (f"((c{a}{j} * c{b}{b} - c{a}{b} * c{b}{j})"
            f"  * c{a}{j}"
            f" + (c{a}{a} * c{b}{j} - c{a}{b} * c{a}{j})"
            f"  * c{b}{j})"
            f" / ((c{a}{a} * c{b}{b} - c{a}{b} * c{a}{b}) * c{j}{j})")


_VIF_ORACLE = f"""
    WITH r AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS x2,
               CAST(FLOOR(l_tax * 100.0 + 0.5) AS BIGINT) AS x3
        FROM lineitem
    ), s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(x3) AS BIGINT) AS s3,
               CAST(SUM(x1 * x1) AS BIGINT) AS q11,
               CAST(SUM(x2 * x2) AS BIGINT) AS q22,
               CAST(SUM(x3 * x3) AS BIGINT) AS q33,
               CAST(SUM(x1 * x2) AS BIGINT) AS q12,
               CAST(SUM(x1 * x3) AS BIGINT) AS q13,
               CAST(SUM(x2 * x3) AS BIGINT) AS q23
        FROM r
    ), c AS (
        SELECT n,
               CAST(q11 AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(s1 AS DOUBLE) / n AS c11,
               CAST(q22 AS DOUBLE) - CAST(s2 AS DOUBLE)
                   * CAST(s2 AS DOUBLE) / n AS c22,
               CAST(q33 AS DOUBLE) - CAST(s3 AS DOUBLE)
                   * CAST(s3 AS DOUBLE) / n AS c33,
               CAST(q12 AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(s2 AS DOUBLE) / n AS c12,
               CAST(q13 AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(s3 AS DOUBLE) / n AS c13,
               CAST(q23 AS DOUBLE) - CAST(s2 AS DOUBLE)
                   * CAST(s3 AS DOUBLE) / n AS c23
        FROM s
    ), cc AS (
        SELECT n, c11, c22, c33, c12, c13, c23,
               c12 AS c21, c13 AS c31, c23 AS c32
        FROM c
    )
    SELECT feature, ROUND(r2, 6) AS r2_on_others,
           ROUND(1.0 / (1.0 - r2), 6) AS vif
    FROM (
        SELECT 'quantity' AS feature,
               {_vif_r2_sql('1', '2', '3')} AS r2 FROM cc
        UNION ALL
        SELECT 'discount_cents', {_vif_r2_sql('2', '1', '3')} FROM cc
        UNION ALL
        SELECT 'tax_cents', {_vif_r2_sql('3', '1', '2')} FROM cc)
    ORDER BY feature
"""


@query("ml20_vif", oracle=_VIF_ORACLE)
def ml20_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for (quantity, discount, tax)
    (SURVEY §2.9 M20, the distributed form of ml/regression.vif):
    VIF_j = 1/(1 - R^2_j) where R^2_j regresses feature j on the
    other two — all three auxiliary regressions solve in closed form
    from ONE centered moment matrix, itself one pass of 10 exact
    integer statistics. The collinearity audit of a p-feature design
    costs one scan + O(p^3) driver-free arithmetic at any scale —
    never p separate regressions over the data.

    Values near 1 certify the TPC-H columns are (by construction)
    nearly orthogonal — the audit's negative result is itself
    hash-verified."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long")
        .alias("x2"),
        F.floor(F.col("l_tax") * 100.0 + 0.5).cast("long").alias("x3"))
    x1, x2, x3 = F.col("x1"), F.col("x2"), F.col("x3")
    s = li.agg(
        F.count("*").alias("n"),
        F.sum(x1).alias("s1"), F.sum(x2).alias("s2"),
        F.sum(x3).alias("s3"),
        F.sum(x1 * x1).alias("q11"), F.sum(x2 * x2).alias("q22"),
        F.sum(x3 * x3).alias("q33"),
        F.sum(x1 * x2).alias("q12"), F.sum(x1 * x3).alias("q13"),
        F.sum(x2 * x3).alias("q23"))
    nd = F.col("n").cast("double")

    def _c(q, sa, sb):
        return (F.col(q).cast("double")
                - F.col(sa).cast("double") * F.col(sb).cast("double")
                / nd)

    c = {"11": _c("q11", "s1", "s1"), "22": _c("q22", "s2", "s2"),
         "33": _c("q33", "s3", "s3"), "12": _c("q12", "s1", "s2"),
         "13": _c("q13", "s1", "s3"), "23": _c("q23", "s2", "s3")}
    c["21"], c["31"], c["32"] = c["12"], c["13"], c["23"]

    def _r2(j, a, b):
        caj, cbj = c[a + j], c[b + j]
        return (((c[a + j] * c[b + b] - c[a + b] * c[b + j]) * caj
                 + (c[a + a] * c[b + j] - c[a + b] * c[a + j]) * cbj)
                / ((c[a + a] * c[b + b] - c[a + b] * c[a + b])
                   * c[j + j]))

    rows = []
    for feat, (j, a, b) in (("quantity", ("1", "2", "3")),
                            ("discount_cents", ("2", "1", "3")),
                            ("tax_cents", ("3", "1", "2"))):
        r2 = _r2(j, a, b)
        rows.append(s.select(
            F.lit(feat).alias("feature"),
            F.round(r2, 6).alias("r2_on_others"),
            F.round(1.0 / (1.0 - r2), 6).alias("vif")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("feature")


# --------------------------------------------------------------------
# ml21 — grouped OLS: one model per key from a single keyed stats pass
# --------------------------------------------------------------------

_GOLS_ORACLE = """
    WITH r AS (
        SELECT n.n_name AS nation,
               CAST(l.l_quantity AS BIGINT) AS x,
               CAST(FLOOR(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   AS y
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
    ), g AS (
        SELECT nation, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM r GROUP BY nation
    )
    SELECT nation, n,
           ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sy AS DOUBLE) / n)
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sx AS DOUBLE) / n) / 100.0, 6)
               AS slope_dollars_per_unit,
           ROUND((CAST(sy AS DOUBLE) / n
                  - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                      * CAST(sy AS DOUBLE) / n)
                     / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                        * CAST(sx AS DOUBLE) / n))
                    * (CAST(sx AS DOUBLE) / n)) / 100.0, 6)
               AS intercept_dollars
    FROM g ORDER BY nation
"""


@query("ml21_grouped_ols", oracle=_GOLS_ORACLE)
def ml21_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One OLS model PER GROUP — price~quantity slope and intercept
    for every supplier nation — from a single keyed sufficient-
    statistics pass (SURVEY §2.9 M1 x the segmentation the
    reference's notebooks do with pandas groupby). The many-models
    pattern: |groups| regressions cost exactly one scan + one
    mergeable groupBy, never |groups| fits — at 100 TB this is how
    per-customer / per-segment models are actually trained, and it
    composes with any of the closed-form fits in this module (the
    group key just joins the stats).

    The nation dim broadcasts into the fact scan (fixed 25 rows); the
    supplier attachment is measured-pinned (supplier SCALES with SF).
    The stats relation is |nations| rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
        .alias("y"))
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    r = (li.join(sized_side(sup, sup.count()), li.l_suppkey == sup.s_suppkey)
         .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
         .select(F.col("n_name").alias("nation"), "x", "y"))
    x, y = F.col("x"), F.col("y")
    g = r.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(x * y).alias("sxy"))
    nd = F.col("n").cast("double")
    slope = ((F.col("sxy").cast("double")
              - F.col("sx").cast("double") * F.col("sy").cast("double")
              / nd)
             / (F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
                / nd))
    intercept = (F.col("sy").cast("double") / nd
                 - slope * (F.col("sx").cast("double") / nd))
    return (g.select("nation", "n",
                     F.round(slope / 100.0, 6)
                     .alias("slope_dollars_per_unit"),
                     F.round(intercept / 100.0, 6)
                     .alias("intercept_dollars"))
            .orderBy("nation"))


# --------------------------------------------------------------------
# km1 — Kaplan-Meier survival curve (new operator class: time-to-event)
# --------------------------------------------------------------------

_KM_ORACLE = """
    WITH r AS (
        SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
                    AS BIGINT) AS t,
               CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END AS ev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ), h AS (
        SELECT t, COUNT(*) AS n, CAST(SUM(ev) AS BIGINT) AS d
        FROM r GROUP BY t
    ), steps AS (
        SELECT t, d,
               CAST(SUM(n) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS at_risk
        FROM h
    ), cum AS (
        SELECT t, d, at_risk,
               CAST(SUM(CASE WHEN d > 0 AND at_risk > d THEN
                   CAST(FLOOR(ln(1.0 - CAST(d AS DOUBLE)
                       / CAST(at_risk AS DOUBLE))
                       * 1000000000000.0) AS BIGINT) ELSE 0 END)
                   OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS lnq
        FROM steps
    )
    SELECT t AS day, at_risk, d AS events,
           ROUND(exp(CAST(lnq AS DOUBLE) / 1000000000000.0), 6)
               AS survival
    FROM cum WHERE d > 0 AND at_risk > d
    ORDER BY day LIMIT 30
"""


@query("km1_survival_curve", oracle=_KM_ORACLE)
def km1_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate over order-to-ship duration
    (event = shipped-and-kept; returned lines treated as censored) —
    the time-to-event operator class, new to the registry: S(t) =
    prod_{t_i <= t} (1 - d_i / n_i) with n_i the at-risk count. The
    running product is carried as an exactly-summed quantized
    log-space cumulative (each ln(1 - d/n) term floor-quantized to
    1e-12 — the ml9 discipline applied to a cumulative product), so
    the curve is identical under any partitioning.

    st3's histogram-first shape: ONE groupBy(day) pass builds the
    event table; at-risk counts are a DESCENDING cumulative over the
    |distinct days| relation; the window input never exceeds the
    duration support. First 30 event days emitted."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    r = (li.join(o, li.l_orderkey == o.o_orderkey)
         .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
         .select(F.datediff("l_shipdate", "o_orderdate").cast("long")
                 .alias("t"),
                 F.when(F.col("l_returnflag") == "R", 0).otherwise(1)
                 .alias("ev")))
    h = r.groupBy("t").agg(F.count("*").alias("n"),
                           F.sum("ev").cast("long").alias("d"))
    wdesc = (Window.orderBy(F.desc("t"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wasc = (Window.orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    at_risk = F.sum("n").over(wdesc).cast("long")
    step = h.select("t", "d", at_risk.alias("at_risk"))
    lnterm = F.when(
        (F.col("d") > 0) & (F.col("at_risk") > F.col("d")),
        F.floor(F.log(1.0 - F.col("d").cast("double")
                      / F.col("at_risk").cast("double"))
                * 1_000_000_000_000.0).cast("long")).otherwise(0)
    cum = step.select(
        "t", "d", "at_risk",
        F.sum(lnterm).over(wasc).cast("long").alias("lnq"))
    return (cum.filter((F.col("d") > 0)
                       & (F.col("at_risk") > F.col("d")))
            .select(F.col("t").alias("day"), "at_risk",
                    F.col("d").alias("events"),
                    F.round(F.exp(F.col("lnq").cast("double")
                                  / 1_000_000_000_000.0), 6)
                    .alias("survival"))
            .orderBy("day").limit(30))


# --------------------------------------------------------------------
# ml22 — Mallows Cp model selection over the nested-model lattice
# --------------------------------------------------------------------

_CP_ORACLE = """
    WITH r AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS x2,
               CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
        FROM lineitem
    ), s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x1 * x1) AS BIGINT) AS q11,
               CAST(SUM(x2 * x2) AS BIGINT) AS q22,
               CAST(SUM(x1 * x2) AS BIGINT) AS q12,
               CAST(SUM(x1 * y) AS BIGINT) AS q1y,
               CAST(SUM(x2 * y) AS BIGINT) AS q2y,
               SUM(y * y) AS syy
        FROM r
    ), c AS (
        SELECT n,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                   * CAST(sy AS DOUBLE) / n AS cyy,
               CAST(q11 AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(s1 AS DOUBLE) / n AS c11,
               CAST(q22 AS DOUBLE) - CAST(s2 AS DOUBLE)
                   * CAST(s2 AS DOUBLE) / n AS c22,
               CAST(q12 AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(s2 AS DOUBLE) / n AS c12,
               CAST(q1y AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(sy AS DOUBLE) / n AS c1y,
               CAST(q2y AS DOUBLE) - CAST(s2 AS DOUBLE)
                   * CAST(sy AS DOUBLE) / n AS c2y
        FROM s
    ), rss AS (
        SELECT n, cyy,
               cyy AS rss0,
               cyy - c1y * c1y / c11 AS rss1,
               cyy - c2y * c2y / c22 AS rss2,
               cyy - ((c1y * c22 - c12 * c2y) * c1y
                      + (c11 * c2y - c12 * c1y) * c2y)
                     / (c11 * c22 - c12 * c12) AS rss12
        FROM c
    ), models AS (
        SELECT 'intercept_only' AS model, 1 AS n_params, rss0 AS rss,
               n, rss12 FROM rss
        UNION ALL
        SELECT 'quantity', 2, rss1, n, rss12 FROM rss
        UNION ALL
        SELECT 'discount', 2, rss2, n, rss12 FROM rss
        UNION ALL
        SELECT 'quantity+discount', 3, rss12, n, rss12 FROM rss
    ), scored AS (
        SELECT model, n_params,
               ROUND(rss / (rss12 / (n - 3)) - n + 2 * n_params, 4)
                   AS mallows_cp
        FROM models
    )
    SELECT model, n_params, mallows_cp,
           CASE WHEN mallows_cp = (SELECT MIN(mallows_cp) FROM scored)
                THEN 1 ELSE 0 END AS is_best
    FROM scored ORDER BY model
"""


@query("ml22_mallows_cp", oracle=_CP_ORACLE)
def ml22_mallows_cp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mallows Cp across the full nested-model lattice of (quantity,
    discount) predicting price (SURVEY §2.9 M20, the distributed
    form of ml/regression.mallows_cp + forward_stepwise's scoring):
    every submodel's RSS comes in closed form from the SAME centered
    moment matrix — intercept-only, each single regressor, and the
    full model — so best-subset search over p features costs ONE
    scan + 2^p driver-free arithmetic rows, not 2^p regressions.
    Cp = RSS_m / sigma2_full - n + 2(p_m+1), rounded before the
    argmin flag (ties deterministic).

    The same anatomy as ml14/ml20: one 10-stat mergeable aggregate,
    tiny relational tail."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long")
        .alias("x2"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
        .alias("y"))
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    s = li.agg(
        F.count("*").alias("n"),
        F.sum(x1).alias("s1"), F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("q11"), F.sum(x2 * x2).alias("q22"),
        F.sum(x1 * x2).alias("q12"),
        F.sum(x1 * y).alias("q1y"), F.sum(x2 * y).alias("q2y"),
        F.sum((y * y).cast("decimal(38,0)")).alias("syy"))
    nd = F.col("n").cast("double")

    def _c(q, sa, sb):
        return (F.col(q).cast("double")
                - F.col(sa).cast("double") * F.col(sb).cast("double")
                / nd)

    cyy = (F.col("syy").cast("double")
           - F.col("sy").cast("double") * F.col("sy").cast("double")
           / nd)
    c11, c22, c12 = _c("q11", "s1", "s1"), _c("q22", "s2", "s2"), \
        _c("q12", "s1", "s2")
    c1y, c2y = _c("q1y", "s1", "sy"), _c("q2y", "s2", "sy")
    rss12 = cyy - ((c1y * c22 - c12 * c2y) * c1y
                   + (c11 * c2y - c12 * c1y) * c2y) \
        / (c11 * c22 - c12 * c12)
    sigma2 = rss12 / (nd - 3)
    models = [("intercept_only", 1, cyy),
              ("quantity", 2, cyy - c1y * c1y / c11),
              ("discount", 2, cyy - c2y * c2y / c22),
              ("quantity+discount", 3, rss12)]
    rows = [s.select(F.lit(name).alias("model"),
                     F.lit(p).alias("n_params"),
                     F.round(rss / sigma2 - nd + 2 * p, 4)
                     .alias("mallows_cp"))
            for name, p, rss in models]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    best = out.agg(F.min("mallows_cp").alias("mn"))
    return (out.crossJoin(F.broadcast(best))
            .select("model", "n_params", "mallows_cp",
                    F.when(F.col("mallows_cp") == F.col("mn"), 1)
                    .otherwise(0).alias("is_best"))
            .orderBy("model"))


# --------------------------------------------------------------------
# gm1 — exact Gram matrix of the embedding corpus (distributed-PCA
# precursor; MLlib RowMatrix.computeGramianMatrix's shape)
# --------------------------------------------------------------------

_GM_ORACLE = f"""
    WITH v AS (
        SELECT list_transform(embedding::DOUBLE[],
                   x -> CAST(FLOOR(x * {_EMB_SCALE}) AS BIGINT)) AS vq
        FROM embeddings
    )
    SELECT t1.i AS i, t2.j AS j,
           CAST(SUM(vq[t1.i] * vq[t2.j]) AS BIGINT) AS g
    FROM v,
         unnest(generate_series(1, {EMBEDDING_DIM})) AS t1(i),
         unnest(generate_series(t1.i, {EMBEDDING_DIM})) AS t2(j)
    GROUP BY t1.i, t2.j
    ORDER BY i, j
"""


@query("gm1_gram_matrix", oracle=_GM_ORACLE)
def gm1_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix X^T X of the 64-d embedding corpus on the
    integer micro-unit grid — the {D}x{D} upper triangle ({T} rows).
    This is the precursor every distributed PCA/linear solver
    reduces to (MLlib's RowMatrix.computeGramianMatrix): the d x d
    result is driver-sized no matter how many rows X has, so the
    whole computation is ONE map-side-combinable aggregate with
    d(d+1)/2 groups. On the integer grid the entries are exact
    BIGINTs — the matrix is bit-identical under any partitioning,
    unlike a float Gram accumulation.

    Per row the upper-triangle products expand in-plan (nested array
    transforms, flattened then exploded); partial aggregation
    collapses each task's contribution to {T} cells before the
    shuffle, so shuffled volume is O(tasks * d^2), independent of
    corpus size. The d(d+1)/2-per-row expansion is invisible to
    input-byte-based partitioning (the es1/v3 under-split rule), so
    the scan is spread to core count when it arrives as fewer splits
    — measured: 14.8 -> 1.44 s warm at the 10x step (200k vectors,
    one file), 1.82 -> 0.79 s at sf0.1; a no-op whenever the scan
    already yields >= cores splits."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb = spread_if_undersplit(emb)
    v = emb.select(_quantized(F.col("embedding")).alias("vq"))
    seq = F.sequence(F.lit(1), F.lit(EMBEDDING_DIM))

    def _upper(i):
        return F.transform(
            F.sequence(i, F.lit(EMBEDDING_DIM)),
            lambda j: F.struct(
                i.alias("i"), j.alias("j"),
                (F.element_at(F.col("vq"), i)
                 * F.element_at(F.col("vq"), j)).alias("p")))

    cells = (v.select(F.explode(F.flatten(F.transform(seq, _upper)))
                      .alias("c"))
             .select("c.i", "c.j", "c.p"))
    return (cells.groupBy("i", "j")
            .agg(F.sum("p").cast("long").alias("g"))
            .orderBy("i", "j"))


gm1_gram_matrix.__doc__ = gm1_gram_matrix.__doc__.format(
    D=EMBEDDING_DIM, T=EMBEDDING_DIM * (EMBEDDING_DIM + 1) // 2)
