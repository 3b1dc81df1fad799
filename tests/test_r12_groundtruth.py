"""Independent imperative recounts for the round-12 queries whose
DuckDB oracles restate the implementation's algorithm (the ORACLE
INDEPENDENCE policy, queries/__init__.py): ir4 MAP, ev2 BLEU-2
precision, t16 Zipf fit, v10 two-stage rerank, w15 rolling distinct.
Each re-derives the
answer from the raw parquet in plain Python (dicts, loops, sorts —
no SQL, no window, no join machinery), so a shared Spark/oracle
formulation bug cannot hash-match green. mm11's oracle is already
independent (it recomputes from the planted generation schedule and
never sees a byte of WAV), so it needs no third implementation.
"""

import math
from collections import Counter

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs():
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'").fetchall()
    return {int(d): t.split(" ") for d, t in rows}


@pytest.fixture(scope="module")
def docs_lang():
    rows = duckdb.connect().execute(
        f"SELECT lang, text FROM '{SF}/documents.parquet'").fetchall()
    return rows


def test_ir4_matches_pure_python_recount(spark, docs):
    from big_data_analytics_spark.queries.retrieval import (
        _B,
        _K1,
        _MRR_TOP,
        _TERMS,
        _TITLE_N,
        ir4_map_eval,
    )

    n = len(docs)
    sdl = sum(len(t) for t in docs.values())
    tf = {}
    for d, toks in docs.items():
        c = Counter(toks)
        for term in _TERMS:
            if c[term]:
                tf[(term, d)] = c[term]
    df = Counter(term for term, _ in tf)

    want = {}
    for term in _TERMS:
        idf = math.log((float(n) - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
        scored = []
        for (t, d), f in tf.items():
            if t != term:
                continue
            dl = len(docs[d])
            s = (idf * (float(f) * (_K1 + 1.0))
                 / (float(f) + _K1 * (1.0 - _B
                                      + _B * float(dl)
                                      / (float(sdl) / float(n)))))
            scored.append((-math.floor(s * 1e9), d))
        scored.sort()
        ranked = [d for _, d in scored[:_MRR_TOP]]
        rel = {d for d, toks in docs.items() if term in toks[:_TITLE_N]}
        hit_ranks = [i + 1 for i, d in enumerate(ranked) if d in rel]
        p_sum = sum(math.floor(1e9 * i / rk)
                    for i, rk in enumerate(hit_ranks, start=1))
        want[term] = (len(rel), len(hit_ranks),
                      math.floor(p_sum / min(len(rel), _MRR_TOP)))

    got = {r["term"]: (int(r["n_rel"]), int(r["hits_at_k"]),
                       int(r["ap_q"]))
           for r in ir4_map_eval(spark, SF).collect()}
    assert got == want


def test_ev2_matches_pure_python_recount(spark, docs):
    from big_data_analytics_spark.queries.evals import ev2_bleu_precision

    def ngrams(toks, n):
        return Counter(
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))

    want = {}
    for d, ref in docs.items():
        if d % 2 != 0 or (d + 1) not in docs:
            continue
        cand = docs[d + 1]
        o1 = sum((ngrams(ref, 1) & ngrams(cand, 1)).values())
        o2 = sum((ngrams(ref, 2) & ngrams(cand, 2)).values())
        t1, t2 = len(cand), max(len(cand) - 1, 0)
        want[d] = (
            len(ref), len(cand), o1, o2,
            math.floor(1e9 * o1 / t1),
            0 if t2 == 0 else math.floor(1e9 * o2 / t2),
            0 if t2 == 0 else math.floor(1e9 * (o1 * o2) / (t1 * t2)),
            len(cand) >= len(ref),
            math.floor(1e9 * min(len(cand), len(ref)) / len(ref)))

    got = {int(r["pair_id"]): (
        int(r["ref_len"]), int(r["cand_len"]),
        int(r["u_overlap"]), int(r["b_overlap"]),
        int(r["prec1_q"]), int(r["prec2_q"]), int(r["bleu2_core_q"]),
        bool(r["no_brevity_penalty"]), int(r["len_ratio_q"]))
        for r in ev2_bleu_precision(spark, SF).collect()}
    assert got == want


def test_t16_matches_pure_python_recount(spark, docs_lang):
    from big_data_analytics_spark.queries.text import (
        _ZIPF_TOP,
        t16_zipf_fit,
    )

    freq = {}
    for lang, text in docs_lang:
        freq.setdefault(lang, Counter()).update(text.split(" "))

    want = {}
    for lang, c in freq.items():
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:_ZIPF_TOP]
        pts = [(math.floor(math.log(float(rk)) * 1e6),
                math.floor(math.log(float(f)) * 1e6))
               for rk, (_, f) in enumerate(top, start=1)]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        den = n * sxx - sx * sx
        num = n * sxy - sx * sy
        slope_q = 0 if den == 0 else math.floor(
            1e6 * (float(num) / float(den)))
        want[lang] = (n, top[0][1], slope_q)

    got = {r["lang"]: (int(r["n_terms"]), int(r["top_freq"]),
                       int(r["slope_q"]))
           for r in t16_zipf_fit(spark, SF).collect()}
    assert got == want


def test_v10_matches_pure_python_recount(spark):
    from big_data_analytics_spark.queries.similarity import (
        _CAND_C,
        _TRUNC_D,
        N_QUERY_VECS,
        TOP_K,
        v10_two_stage_rerank,
    )

    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet'"
    ).fetchall()
    vecs = {int(i): [float(x) for x in v] for i, v in rows}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def round6(x):
        # HALF_UP away from zero — Spark F.round / DuckDB ROUND
        return math.copysign(
            math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    want = {}
    queries = {i: v for i, v in vecs.items() if i < N_QUERY_VECS}
    corpus = {i: v for i, v in vecs.items() if i >= N_QUERY_VECS}
    for qid, qv in queries.items():
        stage1 = sorted(
            ((-round6(dot(qv[:_TRUNC_D], cv[:_TRUNC_D])), nid)
             for nid, cv in corpus.items()))
        cand = [nid for _, nid in stage1[:_CAND_C]]
        rer = sorted(
            ((-round6(dot(qv, vecs[nid])
                      / (math.sqrt(dot(qv, qv))
                         * math.sqrt(dot(vecs[nid], vecs[nid])))), nid)
             for nid in cand))
        for rk, (negc, nid) in enumerate(rer[:TOP_K], start=1):
            want[(qid, nid)] = (-negc, rk)

    got = {(int(r["query_id"]), int(r["neighbor_id"])):
           (float(r["cosine"]), int(r["rk"]))
           for r in v10_two_stage_rerank(spark, SF).collect()}
    assert got == want
    assert len(got) == N_QUERY_VECS * TOP_K


def test_w15_matches_pure_python_recount(spark):
    """w15's oracle reuses the contribution-trick derivation, so this
    recount states the problem the naive way: for each day, literally
    union the user sets of the trailing 7 calendar days."""
    import datetime

    from big_data_analytics_spark.queries.windows import (
        w15_rolling_7d_distinct_users,
    )

    rows = duckdb.connect().execute(
        f"SELECT CAST(date_trunc('day', ts) AS DATE), user_id "
        f"FROM '{SF}/events.parquet'").fetchall()
    by_day = {}
    for d, u in rows:
        by_day.setdefault(d, set()).add(int(u))

    want = {}
    for d, users in by_day.items():
        trailing = set()
        for o in range(7):
            trailing |= by_day.get(d - datetime.timedelta(days=o), set())
        want[d.strftime("%Y-%m-%d")] = (
            len(users), len(trailing),
            math.floor(1e9 * len(users) / len(trailing)))

    got = {r["day"]: (int(r["dau"]), int(r["wau_7d"]),
                      int(r["stickiness_q"]))
           for r in w15_rolling_7d_distinct_users(spark, SF).collect()}
    assert got == want
    assert len(got) > 0


def test_bpe3_matches_pure_python_bpe(spark):
    """The BPE family's oracles reuse the implementation's own
    doubled-separator replace chain, so this recount implements BPE
    the textbook way — pair Counter, global top-1 (ties by pair
    text), greedy left-to-right non-overlapping token-walk merge —
    and checks bpe3's whole fertility table against it. A green row
    here independently certifies the string-replace trick for bpe1/2
    as well (same chain)."""
    from big_data_analytics_spark.queries.text import (
        _STEPS,
        bpe3_fertility,
    )

    rows = duckdb.connect().execute(
        f"SELECT doc_id, lang, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    toks = {int(d): t.split(" ") for d, _, t in rows}
    langs = {int(d): lg for d, lg, _ in rows}

    for _ in range(_STEPS):
        pc = Counter()
        for ts in toks.values():
            pc.update(zip(ts, ts[1:]))
        (a, b), _n = min(pc.items(),
                         key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        for d, ts in toks.items():
            out, i = [], 0
            while i < len(ts):
                if i + 1 < len(ts) and ts[i] == a and ts[i + 1] == b:
                    out.append(a + "+" + b)
                    i += 2
                else:
                    out.append(ts[i])
                    i += 1
            toks[d] = out

    want = {}
    orig = {int(d): t.split(" ") for d, _, t in rows}
    for d, ts in toks.items():
        lg = langs[d]
        n_docs, words, tokens, merged = want.get(lg, (0, 0, 0, 0))
        want[lg] = (n_docs + 1, words + len(orig[d]), tokens + len(ts),
                    merged + sum(1 for t in ts if "+" in t))
    want = {lg: (nd, w, t, m,
                 math.floor(1e9 * t / w), math.floor(1e9 * m / t))
            for lg, (nd, w, t, m) in want.items()}

    got = {r["lang"]: (int(r["n_docs"]), int(r["words"]),
                       int(r["tokens"]), int(r["merged_tokens"]),
                       int(r["compression_q"]), int(r["merge_share_q"]))
           for r in bpe3_fertility(spark, SF).collect()}
    assert got == want
