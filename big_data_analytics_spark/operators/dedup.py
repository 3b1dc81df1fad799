"""Corpus deduplication operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

These are the scale path for "remove (near-)duplicate documents from a
100 TB crawl". Design rules:

- **No pairwise O(n²) stage ever touches the full corpus.** LSH
  banding turns near-dup detection into equality joins on band keys:
  only documents sharing a band bucket are ever compared.
- **Everything before the band join is a narrow map** (tokenize →
  shingle → hash → min/sign fold), pure JVM column expressions, no
  Python UDFs, no shuffle.
- **Verification is exact but candidate-only**: estimated-similar
  pairs are re-scored (true Jaccard / Hamming) after the join, so the
  expensive check runs on the (tiny) candidate set.

The brute-force ``ngram_jaccard_pairs`` is the correctness oracle for
the LSH paths in tests/, and the right tool below ~10⁵ docs.

Hash-based, seed-free: signatures are deterministic functions of
content, so incremental re-runs and cross-corpus joins are stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of normalized text (k=1 → token set)."""
    toks = F.split(normalize_text(col), " ")
    return F.array_distinct(
        F.when(F.size(toks) < k, F.array(F.concat_ws(" ", toks)))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        )
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Signature computation is CPU-bound; a small-file corpus read as
    1-2 partitions would leave every other core idle. In local mode,
    repartition to the session's default parallelism — a cheap shuffle
    of raw text at test scale. On a real cluster the scan already
    carries many partitions (sized by files.maxPartitionBytes), so
    this is a no-op there; checking via ``df.rdd.getNumPartitions``
    would force RDD-lineage materialization just to decide. (The
    CONDITIONAL variant of this guard — for callers that do want the
    partition-count check — is the shared
    ``operators.partitioning.spread_if_undersplit``; see its module
    docstring for the measured per-query-class opt-in rule.)"""
    sc = df.sparkSession.sparkContext
    if not sc.master.startswith("local"):
        return df
    return df.repartition(sc.defaultParallelism)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact normalized content.

    One shuffle on a 32-char fingerprint; at 100 TB hash first, never
    groupBy the raw text (shuffle payload shrinks by ~1000×).
    """
    fp = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# ---------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------

#: Mersenne prime field for the affine MinHash permutation family.
_MH_P = 2147483647


def _mh_params(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic universal-hash coefficients a_j ∈ [1, P-1],
    b_j ∈ [0, P-1] (md5-derived — NOT Python hash(), which is salted
    per process and would give executors different constants)."""
    import hashlib

    def h32(tag: str) -> int:
        return int.from_bytes(
            hashlib.md5(tag.encode()).digest()[:4], "little")

    a = [h32(f"mh_a|{j}") % (_MH_P - 1) + 1 for j in range(num_hashes)]
    b = [h32(f"mh_b|{j}") % _MH_P for j in range(num_hashes)]
    return a, b


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 128,
                       shingle_k: int = 3) -> DataFrame:
    """(id, signature) per document via the affine-permutation MinHash
    family: hash each shingle ONCE (xxhash64 folded into [0, P)), then
    h_j(s) = (a_j·h(s) + b_j) mod P for the Mersenne prime P = 2³¹−1
    (universal hashing, Carter & Wegman 1979). Broder's estimator:
    P[sig_j(A)==sig_j(B)] ≈ Jaccard. Exact-integer throughout
    (a·h+b < 2⁶² — no long overflow, ANSI-safe).

    Plan shape — explode → hash → ``num_hashes`` MIN aggregates:
    Spark's array higher-order functions (transform/aggregate) are
    *interpreted*, not codegen'd, and an in-array fold was 3.5× slower
    than this exploded form on the d2 benchmark. Here every stage is
    whole-stage-codegen: GenerateExec explodes distinct shingles, the
    affine permutations are plain long arithmetic, and the partial
    (map-side) MIN aggregate means the shuffle carries one
    ``num_hashes``-long partial signature per (doc × partition) — not
    shingle rows.

    The shingle feed is arrays_zip of k shifted slices exploded THEN
    concatenated — every step codegen'd, where word_shingles'
    transform(sequence) array build is interpreted per element
    (measured ~40% faster warm, 3.7× cold). Duplicate shingles are
    NOT removed: MIN is idempotent over duplicates, so signatures are
    identical to the word_shingles set semantics, one array_distinct
    cheaper. Documents shorter than ``shingle_k`` tokens contribute
    their whole normalized text as the single shingle (word_shingles'
    degenerate case, preserved via a union branch)."""
    a, b = _mh_params(num_hashes)
    norm = normalize_text(F.col(text_col))
    toks = F.split(norm, " ")
    k = shingle_k
    src = _ensure_parallelism(df)
    zipped = F.arrays_zip(*[
        F.slice(toks, j + 1, F.size(toks) - (k - 1)) for j in range(k)
    ])
    big = (
        src.filter(F.size(toks) >= k)
        .select(id_col, F.explode(zipped).alias("__p"))
        .select(id_col,
                F.concat_ws(" ", *[F.col(f"__p.{j}") for j in range(k)])
                .alias("__s"))
    )
    small = src.filter(F.size(toks) < k).select(id_col, norm.alias("__s"))
    hashed = (
        big.unionByName(small)
        .select(id_col, F.pmod(F.xxhash64("__s"), F.lit(_MH_P)).alias("__h"))
    )
    # generated-SQL expressions: the 128 affine-MIN aggregates built
    # through per-literal Column calls cost ~1 s of driver-side py4j
    # round trips per query build (the operators/similarity.py
    # _bucket_sql lesson); one F.expr parse each is ~free and the
    # arithmetic is identical
    aggs = [
        F.expr(f"min(pmod(__h * {a[j]}L + {b[j]}L, {_MH_P}L))")
        .alias(f"__m{j}")
        for j in range(num_hashes)
    ]
    arr = "array(" + ", ".join(f"__m{j}" for j in range(num_hashes)) + ")"
    return (
        hashed.groupBy(id_col).agg(*aggs)
        .select(id_col, F.expr(arr).alias("signature"))
    )


def _agreement(sig_a: str, sig_b: str) -> Column:
    """MinHash Jaccard estimate: the share of signature positions on
    which the two signatures agree."""
    return (
        F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                        lambda eq: eq)).cast("double")
        / F.size(sig_a)
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 128,
                      shingle_k: int = 3, bands: int = 16,
                      threshold: float = 0.7,
                      max_bucket_size: int | None = 10_000) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with estimated Jaccard.

    banding: signature split into ``bands`` bands of r = num_hashes /
    bands rows; documents colliding on any band's hash become
    candidates (P[candidate] = 1-(1-j^r)^b — an S-curve around
    (1/b)^(1/r)). Candidates are then scored by full-signature
    agreement and filtered at ``threshold``.

    Plan shape: map (signatures) → explode ×bands → shuffle on
    (band, band_hash) → within-bucket pairs → dedup pairs → score.
    The only quadratic work is inside a bucket, and ``max_bucket_size``
    bounds it: buckets larger than the cap (boilerplate/empty-ish docs
    colliding on a band hash — the classic crawl-corpus degenerate
    case) are dropped *for that band only*, so a capped bucket costs
    one band's vote, not the pair. Documents that are genuinely
    similar still collide in their other bands. Exactly-identical
    mega-clusters (all bands degenerate) belong to ``exact_dedup``,
    which should run first in any cleaning pipeline. ``None`` disables
    the cap. The bucket count rides the same (band, band_hash) shuffle
    the candidate join needs — no extra exchange.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # cached: the signature table feeds the band explode AND both sides
    # of the scoring join — without materialization the (expensive)
    # signature computation would run three times
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k).cache()
    # measured pin counts (round-12 implicit-broadcast audit: the 10×
    # plan broadcast the CORPUS-sized signature and banded relations
    # on underestimated derived-relation stats). The count also
    # populates the cache up front, which every consumer reuses.
    from big_data_analytics_spark.operators.joins import sized_side

    n_sigs = sigs.count()

    # Band keys only: the candidate join and pair-dedup shuffle bare
    # (band, hash, id) rows; the num_hashes-element signature arrays are
    # re-attached once per *unique* candidate pair for scoring, so they
    # never ride through the quadratic stage.
    banded = sigs.select(
        id_col,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.lit("band"), F.concat_ws(
                    ",", *[F.element_at("signature", b * r + i + 1) for i in range(r)]
                )).alias("band_hash"),
            ) for b in range(bands)
        ])).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")

    if max_bucket_size is not None:
        bucket_w = Window.partitionBy("band", "band_hash")
        banded = (
            banded.withColumn("__bucket_n", F.count(F.lit(1)).over(bucket_w))
            .filter(F.col("__bucket_n") <= max_bucket_size)
            .drop("__bucket_n")
        )

    left = banded.select("band", "band_hash", F.col(id_col).alias("id_a"))
    right = banded.select("band", "band_hash", F.col(id_col).alias("id_b"))
    cand = (
        left.join(sized_side(right, n_sigs * bands), ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sigs.select(F.col(id_col).alias("id_a"),
                        F.col("signature").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"),
                        F.col("signature").alias("sig_b"))
    # signature rows are payload-heavy (num_hashes-long arrays): pin
    # on the ELEMENT count per the operators/joins.py guidance
    return (
        cand.join(sized_side(sig_a, n_sigs * num_hashes), "id_a")
        .join(sized_side(sig_b, n_sigs * num_hashes), "id_b")
        .withColumn("est_jaccard", _agreement("sig_a", "sig_b"))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def cross_corpus_lsh_pairs(left: DataFrame, right: DataFrame,
                           text_col: str = "text", id_col: str = "doc_id",
                           num_hashes: int = 128, shingle_k: int = 3,
                           bands: int = 16, threshold: float = 0.7,
                           max_bucket_size: int | None = 10_000,
                           cache_signatures: bool = True) -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora — the train/eval
    contamination check: which training documents are near-copies of
    benchmark/eval documents. Same banding machinery as
    :func:`minhash_lsh_pairs`, but the bucket join is left×right only
    (never within a corpus), so the output is (left_id, right_id,
    est_jaccard) and a clean training set is ``left.join(pairs,
    left_id, "left_anti")``.

    Scale: both sides signature in parallel (narrow maps), one
    equality join on band keys; the bucket cap applies to the
    *combined* bucket population, bounding boilerplate blow-ups that
    span the corpora.

    ``cache_signatures``: each side's signatures feed both the band
    join and the final re-score, so they are cached by default. The
    cache is tied to the returned plan and stays in executor storage
    until the caller unpersists or the session ends — long-lived
    drivers invoking this repeatedly should pass ``False`` (signatures
    recompute once instead of accumulating storage)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    from big_data_analytics_spark.operators.joins import sized_side

    sig_l = minhash_signatures(left, text_col, id_col, num_hashes,
                               shingle_k)
    sig_r = minhash_signatures(right, text_col, id_col, num_hashes,
                               shingle_k)
    if cache_signatures:
        sig_l, sig_r = sig_l.cache(), sig_r.cache()
    # measured pin counts (the minhash_lsh_pairs discipline); with
    # cache_signatures=False this is one extra signature pass — the
    # caller already chose recompute over storage
    n_l, n_r = sig_l.count(), sig_r.count()

    def banded(sigs, out_id):
        return sigs.select(
            F.col(id_col).alias(out_id),
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(F.lit("band"), F.concat_ws(
                        ",", *[F.element_at("signature", b * r + i + 1)
                               for i in range(r)]
                    )).alias("band_hash"),
                ) for b in range(bands)
            ])).alias("bh"),
        ).select(out_id, "bh.band", "bh.band_hash")

    bl = banded(sig_l, "left_id")
    br = banded(sig_r, "right_id")
    if max_bucket_size is not None:
        counts = (
            bl.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("nl"))
            .join(sized_side(br.groupBy("band", "band_hash")
                             .agg(F.count(F.lit(1)).alias("nr")),
                             n_r * bands),
                  ["band", "band_hash"])
            .filter(F.col("nl") + F.col("nr") <= max_bucket_size)
            .select("band", "band_hash")
        )
        bl = bl.join(sized_side(counts, n_l * bands),
                     ["band", "band_hash"])
    cand = (
        bl.join(sized_side(br, n_r * bands), ["band", "band_hash"])
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    return (
        cand.join(sized_side(
            sig_l.select(F.col(id_col).alias("left_id"),
                         F.col("signature").alias("sig_a")),
            n_l * num_hashes), "left_id")
        .join(sized_side(
            sig_r.select(F.col(id_col).alias("right_id"),
                         F.col("signature").alias("sig_b")),
            n_r * num_hashes), "right_id")
        .withColumn("est_jaccard", _agreement("sig_a", "sig_b"))
        .filter(F.col("est_jaccard") >= threshold)
        .select("left_id", "right_id", "est_jaccard")
    )


def lsh_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              **lsh_kwargs) -> DataFrame:
    """Drop near-duplicates: every doc that matches a lower-id doc goes.

    Default mode is a single-pass min-root approximation of connected
    components — removes every non-minimal member of each duplicate
    *pair* set (chains A~B~C with A≁C keep only A, which is the
    standard aggressive dedup choice for training corpora).

    ``transitive=True`` instead runs connected components over the
    pair list (operators/graph.py) so each *cluster* keeps exactly its
    min-id representative: on a chain A~B~C with A≁C, pairwise mode
    keeps A and C; transitive mode keeps only A. The component
    iteration runs over the (small) pair list, never the corpus.
    """
    transitive = lsh_kwargs.pop("transitive", False)
    cc_kwargs = {
        k: lsh_kwargs.pop(k)
        for k in ("max_iter", "checkpoint") if k in lsh_kwargs
    }
    verify = lsh_kwargs.pop("verify", False)
    verify_threshold = lsh_kwargs.pop("verify_threshold", None)
    shingle_k = lsh_kwargs.get("shingle_k", 3)
    pairs = minhash_lsh_pairs(df, text_col, id_col, **lsh_kwargs)
    if verify:
        # exact-Jaccard re-check on the candidate pairs only: join the
        # (tiny) pair set back to the docs and score with the true
        # shingle-set Jaccard, so LSH estimation error can only cause
        # missed pairs, never false removals
        thr = verify_threshold if verify_threshold is not None \
            else lsh_kwargs.get("threshold", 0.7)
        sh = df.select(F.col(id_col),
                       word_shingles(F.col(text_col), shingle_k).alias("__sh"))
        a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = (F.size("sh_a") + F.size("sh_b")
                 - F.size(F.array_intersect("sh_a", "sh_b")))
        pairs = (
            pairs.join(a, "id_a").join(b, "id_b")
            .withColumn("true_jaccard", inter / union)
            .filter(F.col("true_jaccard") >= thr)
            .select("id_a", "id_b", "est_jaccard")
        )
    if transitive:
        from big_data_analytics_spark.operators.graph import dedup_by_components
        return dedup_by_components(df, pairs, id_col, **cc_kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------

def simhash(col: Column, bits: int = 64) -> Column:
    """SimHash of a token array: per bit, the sign of Σ_tokens (±1),
    packed into a BIGINT. Near-identical token multisets land within a
    few bits of Hamming distance (Charikar's rounding).

    Single fold with an ``array<long>`` vote accumulator: one pass
    over the tokens updates all ``bits`` counters at once (a
    per-bit-aggregate formulation re-walks the token array ``bits``
    times and bloats codegen 64×). Still a pure narrow map — no
    shuffle, no UDF."""
    tok_hash = F.transform(col, lambda t: F.xxhash64(F.lit("simhash"), t))
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))

    def step(acc: Column, h: Column) -> Column:
        # ±1 vote per bit of this token's hash, added elementwise
        # (getbit, unlike shiftright, takes the position as a Column)
        return F.zip_with(
            acc,
            F.transform(bit_idx, lambda b: F.when(
                F.getbit(h, b) == 1, F.lit(1)).otherwise(F.lit(-1))
                .cast("long")),
            lambda a, v: a + v,
        )

    votes = F.aggregate(
        tok_hash, F.array_repeat(F.lit(0).cast("long"), bits), step)
    # pack sign bits: OR of (votes[b] > 0 ? 1<<b : 0); bit 63's power
    # is the sign bit, representable only as the negative long
    powers = F.array(*[
        F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
        for b in range(bits)
    ])
    return F.aggregate(
        F.zip_with(votes, powers,
                   lambda v, p: F.when(v > 0, p)
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    toks = F.split(normalize_text(F.col(text_col)), " ")
    return _ensure_parallelism(df).select(id_col, simhash(toks).alias("simhash"))


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_hamming: int = 3) -> DataFrame:
    """Pairs within ``max_hamming`` bits, via 4-block LSH: two hashes
    within Hamming distance ≤3 of 64 bits must agree exactly on at
    least one of 4 16-bit blocks (pigeonhole), so exact-match joins on
    blocks find all such pairs; candidates are verified with
    bit_count(xor).

    The signature relation is checkpoint-materialized and its
    measured count pins the block self-join (the minhash_lsh_pairs
    discipline — derived-relation stats mis-broadcast at scale)."""
    from big_data_analytics_spark.operators.joins import sized_side

    sigs = simhash_signatures(df, text_col, id_col).localCheckpoint()
    n_sigs = sigs.count()  # cheap: checkpoint-materialized
    blocks = sigs.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("block"),
                     F.shiftrightunsigned("simhash", 16 * i)
                     .bitwiseAND(F.lit(0xFFFF)).alias("block_val"))
            for i in range(4)
        ])).alias("bl"),
    ).select(id_col, "simhash", "bl.block", "bl.block_val")
    left = blocks.select("block", "block_val", F.col(id_col).alias("id_a"),
                         F.col("simhash").alias("sim_a"))
    right = blocks.select("block", "block_val", F.col(id_col).alias("id_b"),
                          F.col("simhash").alias("sim_b"))
    return (
        left.join(sized_side(right, n_sigs * 4), ["block", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------
# exact n-gram Jaccard (brute force / oracle / verifier)
# ---------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_k: int = 3,
                        threshold: float = 0.7) -> DataFrame:
    """Exact Jaccard-similar pairs via an inverted-index join on
    shingles: |A∩B| from co-occurrence counts, |A∪B| = |A|+|B|−|A∩B|.
    Exact but shuffles every (doc, shingle) pair — the oracle for the
    LSH estimators and the small-corpus tool.

    The shingle relation is checkpoint-materialized (it feeds the
    size aggregate AND both self-join sides — one explode instead of
    three) and its MEASURED count pins every attachment through
    operators.joins.sized_side: plan-time stats on post-explode
    relations underestimate (the round-12 implicit-broadcast audit
    caught the 10× plan broadcasting a corpus-sized (doc, shingle)
    side), so broadcast below the ceiling, sort-merge past it."""
    from big_data_analytics_spark.operators.joins import sized_side

    sh = (
        df.select(id_col, F.explode(word_shingles(F.col(text_col), shingle_k))
                  .alias("shingle"))
        .localCheckpoint()
    )
    n_sh = sh.count()  # cheap: checkpoint-materialized
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(sized_side(b, n_sh), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sized_side(sa, n_sh), "id_a")
        .join(sized_side(sb, n_sh), "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )

def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", shingle_k: int = 3,
                            threshold: float = 0.9) -> DataFrame:
    """Directional shingle containment |A∩B| / |A|: the asymmetric
    companion to Jaccard that catches *embedded* duplication — an
    excerpt pasted inside a larger document has containment ≈ 1 from
    the excerpt's side while its Jaccard can be arbitrarily low, so a
    symmetric threshold misses exactly the quote/boilerplate/
    wrapper-page duplication an LLM corpus is full of.

    Returns (id_small, id_big, containment) for ordered pairs where
    the smaller side's shingle set is ≥ threshold contained in the
    other. Same inverted-index join as ngram_jaccard_pairs — one
    (doc, shingle) explode, co-occurrence counts, per-side
    normalization. Checkpoint + measured sized_side pins, same as
    ngram_jaccard_pairs above."""
    from big_data_analytics_spark.operators.joins import sized_side

    sh = (
        df.select(id_col, F.explode(word_shingles(F.col(text_col), shingle_k))
                  .alias("shingle"))
        .localCheckpoint()
    )
    n_sh = sh.count()  # cheap: checkpoint-materialized
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(sized_side(b, n_sh), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    scored = (
        inter.join(sized_side(sa, n_sh), "id_a")
        .join(sized_side(sb, n_sh), "id_b")
        # containment from the smaller side (the embedded document)
        .withColumn(
            "containment",
            F.col("common") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("containment") >= threshold)
    )
    return scored.select(
        F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a"))
        .otherwise(F.col("id_b")).alias("id_small"),
        F.when(F.col("n_a") <= F.col("n_b"), F.col("id_b"))
        .otherwise(F.col("id_a")).alias("id_big"),
        "containment",
    )


def exact_ngram_contamination(left: DataFrame, right: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", n: int = 8,
                              max_doc_freq: int | None = 100) -> DataFrame:
    """Exact n-gram overlap between two corpora — the classic eval-
    decontamination check (GPT-3 appendix C / PaLM-style: an eval doc
    is contaminated if it shares any verbatim n-gram with training
    data), complementing :func:`cross_corpus_lsh_pairs`' fuzzy match
    with exact-substring evidence.

    Returns (left_id, right_id, n_shared_ngrams) for every cross-
    corpus pair sharing ≥1 distinct word n-gram.

    Scale shape: per-doc n-grams are a narrow map (sequence → slice →
    distinct); the join key is the n-gram's md5 (32-byte fingerprints
    shuffle, never text — and md5 keeps the whole pipeline engine-
    portable for the oracle). ``max_doc_freq`` drops n-grams occurring
    in more than that many documents across BOTH corpora before the
    join — boilerplate phrases are exactly the keys that would
    otherwise produce quadratic bucket blow-ups, and decontamination
    pipelines exclude them for precision anyway.

    Each side's n-gram relation is built ONCE (localCheckpoint) —
    lazily, both `l` and `r` fed the doc-frequency union AND the
    final join, re-running the interpreted slice/concat transform
    per consumer — and spread when the corpus scan is under-split
    (the es1/v3/v4 rule). Measured on dq4 at sf0.1 / a 10× corpus:
    4.5 → 2.4 s and 30.5 → 6.8 s warm, values identical."""
    from big_data_analytics_spark.operators.partitioning import (
        spread_if_undersplit,
    )

    def ngrams(df: DataFrame, out_id: str) -> DataFrame:
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        arr = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        df = spread_if_undersplit(df)
        return (
            df.filter(F.size(toks) >= n)
            .select(F.col(id_col).alias(out_id),
                    F.explode(F.array_distinct(arr)).alias("__ng"))
            .select(out_id, F.md5("__ng").alias("fp"))
        ).localCheckpoint()

    from big_data_analytics_spark.operators.joins import sized_side

    l, r = ngrams(left, "left_id"), ngrams(right, "right_id")
    # corpus-proportional n-gram relations: measure the checkpoints
    # (cheap) and pin every attachment — a localCheckpoint's size
    # ESTIMATE once misled the optimizer into broadcasting a 24M-row
    # relation (operators/joins.py), and the round-12 audit found the
    # same class here at 10×
    n_l, n_r = l.count(), r.count()
    if max_doc_freq is not None:
        keep = (
            l.select("fp").unionByName(r.select("fp"))
            .groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("fp")
        )
        # keep is boilerplate-filtered but bounded only by n_l + n_r
        l = l.join(sized_side(keep, n_l + n_r), "fp")
    return (
        l.join(sized_side(r, n_r), "fp")
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def prefix_filtered_jaccard_pairs(df: DataFrame, text_col: str = "text",
                                  id_col: str = "doc_id",
                                  shingle_k: int = 3,
                                  threshold: float = 0.5) -> DataFrame:
    """EXACT Jaccard-similar pairs with PPJoin-style prefix filtering
    (Xiao et al., WWW'08) — the scale path for exact set-similarity
    joins: instead of indexing EVERY (doc, shingle) pair like
    ngram_jaccard_pairs, index only each doc's PREFIX — its
    ``|A| - ceil(t*|A|) + 1`` rarest shingles under one global
    canonical order (ascending corpus frequency, shingle text as the
    tie-break). Completeness is a theorem, not a heuristic: if
    J(A,B) >= t, the two prefixes must share a shingle — were they
    disjoint, more than (1-t)|A| of A's shingles would fall outside
    B, forcing J < t. Candidates additionally pass the size-ratio
    bound min(|A|,|B|) >= t * max(|A|,|B|); survivors are verified
    with the exact intersection count.

    Shuffle economics vs the full inverted index: the index join
    carries only prefix rows (about a (1-t) fraction of shingle
    occurrences, and the RAREST ones, so bucket fan-out is small);
    frequent shingles — the quadratic blowup in a naive index — land
    in the LONG suffix and are never joined. threshold*|A| must be
    exactly representable (t = 0.5 here) for the prefix length to be
    engine-stable.

    The shingle relation is checkpoint-materialized (five consumers:
    sizes, frequencies, the ranked index, and both verification
    sides) and its measured count pins every corpus-proportional
    attachment through sized_side — plan-time stats on derived
    relations underestimate (round-12 implicit-broadcast audit), so
    broadcast below the ceiling, sort-merge past it."""
    from big_data_analytics_spark.operators.joins import sized_side

    sh = df.select(
        id_col,
        F.explode(word_shingles(F.col(text_col), shingle_k))
        .alias("shingle")).localCheckpoint()
    n_sh = sh.count()  # cheap: checkpoint-materialized
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    ranked = (
        sh.join(sized_side(freq, n_sh), "shingle")
        .join(sized_side(sizes, n_sh), id_col)
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("freq", "shingle")))
        .withColumn("p",
                    F.col("n") - F.ceil(F.lit(threshold) * F.col("n"))
                    + F.lit(1)))
    prefix = ranked.filter(F.col("r") <= F.col("p")).select(
        F.col(id_col), "shingle", "n")
    a = prefix.select(F.col(id_col).alias("id_a"), "shingle",
                      F.col("n").alias("n_a"))
    b = prefix.select(F.col(id_col).alias("id_b"), "shingle",
                      F.col("n").alias("n_b"))
    cand = (
        a.join(sized_side(b, n_sh), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.least("n_a", "n_b")
                >= F.lit(threshold) * F.greatest("n_a", "n_b"))
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct())
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        cand.join(sized_side(sa, n_sh), "id_a")
        .join(sized_side(sb, n_sh), ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("common")))
    return (
        common.withColumn(
            "jaccard",
            F.col("common")
            / (F.col("n_a") + F.col("n_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"))
