"""Similarity search: LSH paths measured against the brute-force oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.operators.similarity import (
    cosine_topk,
    dot,
    embedding_near_dup_pairs,
    lsh_topk,
    sq_l2,
)
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_CORRECT, "embeddings").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")


@pytest.fixture(scope="module")
def corpus(emb):
    return emb.filter(F.col("vec_id") >= 5)


def test_brute_force_topk_matches_numpy(emb, corpus, queries):
    """Exact path cross-checked against a numpy recomputation."""
    import numpy as np

    got = cosine_topk(corpus, queries, k=10).toPandas()
    pdf = emb.toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in pdf.itertuples()}
    for qid in range(5):
        q = vecs[qid]
        sims = {
            cid: float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
            for cid, v in vecs.items() if cid >= 5
        }
        exp = sorted(sims, key=lambda c: (-round(sims[c], 8), c))[:10]
        sub = got[got.query_id == qid].sort_values(
            ["cosine", "neighbor_id"], ascending=[False, True])
        assert list(sub.neighbor_id) == exp, f"query {qid}"
        for nid, cos in zip(sub.neighbor_id, sub.cosine):
            assert cos == pytest.approx(sims[nid], abs=1e-6)


def test_lsh_topk_recall(corpus, queries):
    """LSH recall@10 vs brute force. Random 64-dim data has weak true
    neighbors (cosine ~0.4 → per-plane collision ~0.63), so the test
    uses few planes / many tables; real embedding corpora with tight
    clusters support more planes per table."""
    exact = cosine_topk(corpus, queries, k=10).toPandas()
    approx = lsh_topk(corpus, queries, k=10, n_planes=4, n_tables=16).toPandas()
    recalls = []
    for qid in exact.query_id.unique():
        e = set(exact[exact.query_id == qid].neighbor_id)
        a = set(approx[approx.query_id == qid].neighbor_id)
        recalls.append(len(e & a) / len(e))
    assert sum(recalls) / len(recalls) > 0.6, recalls


def test_lsh_candidates_scored_exactly(corpus, queries):
    """Every returned LSH neighbor carries the true cosine (reranking
    is exact, only candidate generation is approximate)."""
    exact = cosine_topk(corpus, queries, k=500).toPandas()
    truth = {(r.query_id, r.neighbor_id): r.cosine for r in exact.itertuples()}
    approx = lsh_topk(corpus, queries, k=10).toPandas()
    for r in approx.itertuples():
        assert truth[(r.query_id, r.neighbor_id)] == pytest.approx(r.cosine, abs=1e-8)


def test_embedding_near_dup(spark, emb):
    """Plant exact duplicates; the near-dup self-join must find them."""
    dups = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    corpus = emb.unionByName(dups)
    pairs = embedding_near_dup_pairs(corpus, threshold=0.999).toPandas()
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    expected = {(i, i + 10000) for i in range(20)}
    recall = len(found & expected) / len(expected)
    assert recall >= 0.9, f"near-dup recall {recall}"
    # no false positives at the 0.999 bar among random 64-dim vectors
    assert all(c >= 0.999 for c in pairs.cosine)


def test_ivf_topk_recall(spark, emb, corpus, queries):
    """IVF coarse-quantizer ANN: nprobe=6 of 12 cells must recover most
    of the exact top-10 (random 64-dim data is a worst case — real
    clustered embeddings do far better at lower nprobe)."""
    from big_data_analytics_spark.operators.similarity import ivf_build, ivf_topk

    assigned, centroids = ivf_build(corpus, n_cells=12, seed=7)
    exact = cosine_topk(corpus, queries, k=10).toPandas()
    approx = ivf_topk(assigned, centroids, queries, k=10, nprobe=6).toPandas()
    recalls = []
    for qid in exact.query_id.unique():
        e = set(exact[exact.query_id == qid].neighbor_id)
        a = set(approx[approx.query_id == qid].neighbor_id)
        recalls.append(len(e & a) / len(e))
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall > 0.5, recalls
    # probing ALL cells must give exact results
    full = ivf_topk(assigned, centroids, queries, k=10, nprobe=12).toPandas()
    for qid in exact.query_id.unique():
        assert (set(full[full.query_id == qid].neighbor_id)
                == set(exact[exact.query_id == qid].neighbor_id))


def test_ivf_partitioned_storage_prunes(spark, corpus, tmp_path):
    """The persisted IVF layout: cell-partitioned parquet, and a probe
    of 2 cells carries a partition filter (unprobed cell directories
    never read) while returning exactly those cells' vectors."""
    from big_data_analytics_spark.operators.similarity import (
        ivf_build,
        ivf_read_probe,
        ivf_write,
    )

    assigned, _ = ivf_build(corpus, n_cells=8, seed=7)
    path = str(tmp_path / "ivf_index")
    ivf_write(assigned, path)
    probe = ivf_read_probe(spark, path, cells=[1, 3])
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    got_cells = {r.cell for r in probe.select("cell").distinct().collect()}
    assert got_cells <= {1, 3} and got_cells
    expected = assigned.filter(F.col("cell").isin([1, 3])).count()
    assert probe.count() == expected


def test_ivf_sample_fit_recall(spark, corpus, queries):
    """The 100 TB path: fitting the coarse quantizer on a 10% sample
    must not cost probe recall — cell boundaries shift, but nprobe=6
    of 12 still recovers the same share of the exact top-10, and
    probing all cells is still exact (assignment covers every vector
    regardless of where the centroids came from)."""
    from big_data_analytics_spark.operators.similarity import ivf_build, ivf_topk

    exact = cosine_topk(corpus, queries, k=10).toPandas()

    def mean_recall(fraction):
        assigned, centroids = ivf_build(
            corpus, n_cells=12, seed=7, fit_fraction=fraction)
        approx = ivf_topk(assigned, centroids, queries, k=10,
                          nprobe=6).toPandas()
        recalls = []
        for qid in exact.query_id.unique():
            e = set(exact[exact.query_id == qid].neighbor_id)
            a = set(approx[approx.query_id == qid].neighbor_id)
            recalls.append(len(e & a) / len(e))
        return sum(recalls) / len(recalls)

    sampled = mean_recall(0.1)
    assert sampled > 0.5, sampled
    # exactness when probing everything is fit-independent
    assigned, centroids = ivf_build(corpus, n_cells=12, seed=7,
                                    fit_fraction=0.1)
    full = ivf_topk(assigned, centroids, queries, k=10, nprobe=12).toPandas()
    for qid in exact.query_id.unique():
        assert (set(full[full.query_id == qid].neighbor_id)
                == set(exact[exact.query_id == qid].neighbor_id))


# ------------------------- product quantization ----------------------

def test_pq_recall_vs_exact_l2(spark):
    from big_data_analytics_spark.operators.similarity import (
        pq_build, pq_topk)
    corpus = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = (corpus.limit(3)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    # the synthetic embeddings are near-isotropic — PQ's hardest case
    # (no subspace structure to exploit); 32 subspaces of 2 dims keep
    # quantization distortion below neighbor-gap scale
    codes, books = pq_build(corpus, m=32, k=16)
    got = pq_topk(codes, books, queries, k=10)
    # exact L2 top-10 per query
    q = queries.select("qid", F.col("embedding").alias("qv"))
    pairs = corpus.crossJoin(q)
    d2 = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("qv"),
                   lambda a, b: (a.cast("double") - b.cast("double")) ** 2),
        F.lit(0.0), lambda acc, x: acc + x)
    from pyspark.sql import Window as W
    exact = (pairs.select("qid", "vec_id", d2.alias("d2"))
             .withColumn("rnk", F.row_number().over(
                 W.partitionBy("qid").orderBy(F.col("d2").asc(),
                                              F.col("vec_id").asc())))
             .where(F.col("rnk") <= 10))
    got_sets = {}
    for r in got.collect():
        got_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    recall_total, n = 0.0, 0
    for qid, want in (
            (k, {r["vec_id"] for r in g}) for k, g in
            __import__("itertools").groupby(
                sorted(exact.collect(), key=lambda r: r["qid"]),
                key=lambda r: r["qid"])):
        recall_total += len(got_sets.get(qid, set()) & want) / len(want)
        n += 1
    assert n == 3
    # isotropic-data recall for m=32/k=16 measured ~0.73; assert a
    # stable floor
    assert recall_total / n >= 0.55, recall_total / n


def test_pq_identity_vector_is_top1(spark):
    from big_data_analytics_spark.operators.similarity import (
        pq_build, pq_topk)
    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = (corpus.limit(2)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    codes, books = pq_build(corpus, m=8, k=16)
    top1 = (pq_topk(codes, books, queries, k=1).collect())
    # the query vector quantizes to its own codes -> ADC distance to
    # itself is the table minimum sum; it must be the top hit
    for r in top1:
        assert r["vec_id"] == r["qid"], r


def test_sq_topk_recall_vs_brute_force(spark):
    """SQ8 candidates + exact rerank must recover most of the true
    top-k: recall@5 vs the v1 brute-force baseline at sf0.001."""
    from big_data_analytics_spark.queries import load_all
    reg = load_all()
    sf = "/root/testdata/sf0.001"
    truth = {(r["query_id"], r["neighbor_id"])
             for r in reg["v1_cosine_topk"].spark_fn(spark, sf).collect()}
    got = {(r["query_id"], r["neighbor_id"])
           for r in reg["v5_sq_topk"].spark_fn(spark, sf).collect()}
    assert len(truth) > 0
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, recall


def test_vector_folds_add_left_to_right_and_reject_ragged_pairs(spark):
    """``dot`` and ``sq_l2`` equal a pure-Python left-to-right fold,
    bit for bit, on double and on BIGINT arrays. A pair of different
    lengths raises (``zip_with`` alone pads with NULL and returns
    NULL); a NULL array still yields NULL."""
    import random

    from pyspark.errors import PySparkException

    rnd = random.Random(11)
    rows = []
    for n in (1, 3, 64):
        a = [rnd.uniform(-1, 1) for _ in range(n)]
        b = [rnd.uniform(-1, 1) for _ in range(n)]
        ia = [rnd.randrange(-2_000_000, 2_000_000) for _ in range(n)]
        ib = [rnd.randrange(-2_000_000, 2_000_000) for _ in range(n)]
        rows.append((a, b, ia, ib))
    df = spark.createDataFrame(
        rows, "a array<double>, b array<double>, ia array<long>, "
              "ib array<long>")
    got = df.select(
        dot(F.col("a"), F.col("a")).alias("aa"),
        dot(F.col("a"), F.col("b")).alias("d"),
        sq_l2(F.col("a"), F.col("b")).alias("s"),
        dot(F.col("ia"), F.col("ib"), zero=0).alias("di"),
        sq_l2(F.col("ia"), F.col("ib"), zero=0).alias("si"),
    ).collect()

    def fold(xs, ys, term, acc):
        for x, y in zip(xs, ys):
            acc = acc + term(x, y)
        return acc

    for (a, b, ia, ib), r in zip(rows, got):
        assert r["aa"] == fold(a, a, lambda x, y: x * y, 0.0)
        assert r["d"] == fold(a, b, lambda x, y: x * y, 0.0)
        assert r["s"] == fold(a, b, lambda x, y: (x - y) * (x - y), 0.0)
        assert r["di"] == fold(ia, ib, lambda x, y: x * y, 0)
        assert r["si"] == fold(ia, ib, lambda x, y: (x - y) * (x - y), 0)

    ragged = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [1.0, 2.0])], "a array<double>, b array<double>")
    for f in (dot, sq_l2):
        with pytest.raises(PySparkException, match="vector length mismatch"):
            ragged.select(f(F.col("a"), F.col("b"))).collect()

    nulls = spark.createDataFrame(
        [(None, [1.0, 2.0])], "a array<double>, b array<double>")
    assert nulls.select(dot(F.col("a"), F.col("b")).alias("d"),
                        sq_l2(F.col("b"), F.col("a")).alias("s")
                        ).first().asDict() == {"d": None, "s": None}
