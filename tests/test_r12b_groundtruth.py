"""Independent imperative recounts for the round-12 second-batch
queries (ORACLE INDEPENDENCE policy, queries/__init__.py): ev3 WER /
CER, ev4 chrF, t17 Kneser-Ney, ir5 hard negatives, gov1 k-anonymity.
Each re-derives the answer from the raw parquet in plain Python
(dicts, loops, the textbook O(n*m) DP — no numpy vectorization, no
SQL, no coded-string trick), so a shared Spark/oracle formulation bug
cannot hash-match green. ev3's oracle is additionally independent by
construction (byte-levenshtein over per-pair coded strings vs the
implementation's numpy DP), but the recount still guards the CODING
itself.
"""

import math
from collections import Counter
from fractions import Fraction

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def doc_rows():
    return duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'").fetchall()


def _lev(a, b):
    """Textbook O(n*m) Levenshtein, plain nested loops."""
    n, m = len(a), len(b)
    prev = list(range(m + 1))
    for i in range(1, n + 1):
        cur = [i] + [0] * m
        for j in range(1, m + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[m]


def test_ev3_matches_pure_python_dp(spark, doc_rows):
    from big_data_analytics_spark.queries.evals import (
        ev3_token_edit_distance,
    )

    docs = {int(d): t for d, t in doc_rows}
    want = {}
    for d, rtext in docs.items():
        if d % 2 != 0 or (d + 1) not in docs:
            continue
        ctext = docs[d + 1]
        ref, cand = rtext.split(" "), ctext.split(" ")
        td = _lev(ref, cand)
        cd = _lev(rtext, ctext)
        want[d] = (len(ref), len(cand), len(rtext), td, cd,
                   math.floor(1e9 * td / len(ref)),
                   math.floor(1e9 * cd / len(rtext)))

    got = {int(r["pair_id"]): (
        int(r["ref_len"]), int(r["cand_len"]), int(r["ref_chars"]),
        int(r["tok_dist"]), int(r["char_dist"]),
        int(r["wer_q"]), int(r["cer_q"]))
        for r in ev3_token_edit_distance(spark, SF).collect()}
    assert got == want
    assert len(got) > 0


def test_ev4_matches_pure_python_recount(spark, doc_rows):
    from big_data_analytics_spark.queries.evals import ev4_chrf

    docs = {int(d): t.replace(" ", "") for d, t in doc_rows}

    def grams(s, n):
        return Counter(s[i:i + n] for i in range(len(s) - n + 1))

    want = {}
    for d, rs in docs.items():
        if d % 2 != 0 or (d + 1) not in docs:
            continue
        cs = docs[d + 1]
        o2 = sum((grams(rs, 2) & grams(cs, 2)).values())
        o3 = sum((grams(rs, 3) & grams(cs, 3)).values())
        tr2, tc2 = max(len(rs) - 1, 0), max(len(cs) - 1, 0)
        tr3, tc3 = max(len(rs) - 2, 0), max(len(cs) - 2, 0)
        f2 = 0 if tr2 + tc2 == 0 else math.floor(1e9 * 2 * o2 / (tr2 + tc2))
        f3 = 0 if tr3 + tc3 == 0 else math.floor(1e9 * 2 * o3 / (tr3 + tc3))
        want[d] = (o2, tr2, tc2, o3, tr3, tc3, f2, f3)

    got = {int(r["pair_id"]): (
        int(r["o2"]), int(r["tr2"]), int(r["tc2"]),
        int(r["o3"]), int(r["tr3"]), int(r["tc3"]),
        int(r["chrf2_q"]), int(r["chrf3_q"]))
        for r in ev4_chrf(spark, SF).collect()}
    assert got == want


def test_t17_matches_textbook_kneser_ney(spark, doc_rows):
    """Recount with exact rational arithmetic (fractions.Fraction) on
    the TEXTBOOK interpolated-KN formula — not the single-rational
    rearrangement both the Spark plan and the oracle evaluate — so an
    algebra slip in the rearrangement cannot match green."""
    from big_data_analytics_spark.queries.text import (
        t17_kneser_ney_bigram,
    )

    c12 = Counter()
    for _, text in doc_rows:
        ts = text.split(" ")
        c12.update(zip(ts, ts[1:]))
    c1 = Counter()
    n_fw1 = Counter()
    n_pw2 = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n_fw1[w1] += 1
        n_pw2[w2] += 1
    b = len(c12)
    d = Fraction(3, 4)

    want = {}
    for (w1, w2), c in c12.items():
        p = (Fraction(max(Fraction(c) - d, 0), c1[w1])
             + d * Fraction(n_fw1[w1], c1[w1]) * Fraction(n_pw2[w2], b))
        want[(w1, w2)] = (c, c1[w1], n_fw1[w1], n_pw2[w2],
                          (10 ** 9 * p.numerator) // p.denominator)

    got = {(r["w1"], r["w2"]): (
        int(r["c12"]), int(r["c1"]), int(r["n_fw1"]), int(r["n_pw2"]),
        int(r["pkn_q"]))
        for r in t17_kneser_ney_bigram(spark, SF).collect()}
    assert got == want
    # interpolated KN must sum to 1 over each observed context's
    # continuations PLUS the backoff mass — spot-check the rational
    # probabilities of one context sum to <= 1
    some_w1 = next(iter(c1))
    s = sum(Fraction(max(Fraction(c) - d, 0), c1[w1])
            + d * Fraction(n_fw1[w1], c1[w1]) * Fraction(n_pw2[w2], b)
            for (w1, w2), c in c12.items() if w1 == some_w1)
    assert s <= 1


def test_ir5_matches_pure_python_recount(spark, doc_rows):
    from big_data_analytics_spark.queries.retrieval import (
        _B,
        _K1,
        _NEG_K,
        _TERMS,
        _TITLE_N,
        ir5_hard_negatives,
    )

    docs = {int(d): t.split(" ") for d, t in doc_rows}
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
        rel = {d for d, toks in docs.items() if term in toks[:_TITLE_N]}
        scored = []
        for (t, d), f in tf.items():
            if t != term or d in rel:
                continue
            dl = len(docs[d])
            s = (idf * (float(f) * (_K1 + 1.0))
                 / (float(f) + _K1 * (1.0 - _B
                                      + _B * float(dl)
                                      / (float(sdl) / float(n)))))
            scored.append((-math.floor(s * 1e9), d))
        scored.sort()
        for rk, (neg_s, d) in enumerate(scored[:_NEG_K], start=1):
            want[(term, rk)] = (d, -neg_s)

    got = {(r["term"], int(r["neg_rank"])): (int(r["doc_id"]),
                                             int(r["s_q"]))
           for r in ir5_hard_negatives(spark, SF).collect()}
    assert got == want
    assert len(got) > 0


def test_gov1_matches_pure_python_recount(spark):
    from big_data_analytics_spark.queries.governance import (
        _K_ANON,
        gov1_k_anonymity,
    )

    rows = duckdb.connect().execute(
        f"SELECT c_nationkey, c_mktsegment, c_acctbal "
        f"FROM '{SF}/customer.parquet'").fetchall()
    classes = Counter(
        (int(nk), seg, math.floor(float(bal) / 1000.0))
        for nk, seg, bal in rows)

    want = {k: (c, c >= _K_ANON, 10 ** 9 // c)
            for k, c in classes.items()}
    got = {(int(r["c_nationkey"]), r["c_mktsegment"],
            int(r["bal_band"])): (int(r["n"]), bool(r["is_k_anonymous"]),
                                  int(r["risk_q"]))
           for r in gov1_k_anonymity(spark, SF).collect()}
    assert got == want
    assert any(not v[1] for v in want.values()) or len(want) > 0


def test_d10_matches_pure_python_cut(spark, doc_rows):
    """Naive restatement: for every position, literally collect its
    8-gram into a corpus-wide Counter, mark positions whose 8-gram
    occurs >= 2 times, expand each marked position to K covered
    token indices, cut the union, and rebuild the text."""
    from big_data_analytics_spark.queries.text import (
        _K,
        d10_exact_substring_cut,
    )

    docs = {int(d): t.split(" ") for d, t in doc_rows}
    gram_count = Counter()
    for toks in docs.values():
        for p in range(len(toks) - _K + 1):
            gram_count[tuple(toks[p:p + _K])] += 1

    want = {}
    for d, toks in docs.items():
        covered = set()
        dup_pos = [p for p in range(len(toks) - _K + 1)
                   if gram_count[tuple(toks[p:p + _K])] >= 2]
        for p in dup_pos:
            covered.update(range(p, p + _K))
        # span count = islands of dup positions with gap > K
        n_spans, prev = 0, None
        for p in dup_pos:
            if prev is None or p - prev > _K:
                n_spans += 1
            prev = p
        kept = [t for i, t in enumerate(toks) if i not in covered]
        want[d] = (len(toks), len(kept), len(toks) - len(kept),
                   n_spans, " ".join(kept))

    got = {int(r["doc_id"]): (
        int(r["n_tokens"]), int(r["kept_tokens"]), int(r["cut_tokens"]),
        int(r["n_spans"]), r["clean_text"])
        for r in d10_exact_substring_cut(spark, SF).collect()}
    assert got == want
    assert any(v[2] > 0 for v in want.values())  # fixture has cuts


def test_t18_matches_pure_python_pagerank(spark, doc_rows):
    """Textbook integer-micro-unit weighted PageRank over a dict-built
    co-occurrence graph — no DataFrame, no unrolled SQL."""
    from big_data_analytics_spark.queries.text import (
        _TR_ITER,
        _TR_TOP,
        t18_textrank_keywords,
    )

    w = Counter()
    for _, text in doc_rows:
        ts = text.split(" ")
        for i, a in enumerate(ts):
            for o in (1, 2):
                if i + o < len(ts) and a != ts[i + o]:
                    w[(a, ts[i + o])] += 1
                    w[(ts[i + o], a)] += 1
    sw = Counter()
    out_edges = {}
    for (s, d_), c in w.items():
        sw[s] += c
        out_edges.setdefault(s, []).append((d_, c))
    nodes = sorted(sw)
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(_TR_ITER):
        inflow = {n: 0 for n in nodes}
        for s in nodes:
            for d_, c in out_edges[s]:
                inflow[d_] += (rank[s] * c) // sw[s]
        rank = {n: 150_000 + (85 * inflow[n]) // 100 for n in nodes}
    want = sorted(((r, n) for n, r in rank.items()),
                  key=lambda t: (-t[0], t[1]))[:_TR_TOP]
    want = [(n, r) for r, n in want]

    got = [(r["token"], int(r["rank_micro"]))
           for r in t18_textrank_keywords(spark, SF).collect()]
    assert got == want


def test_fs2_matches_pure_python_chi2(spark):
    """Exact-Fraction chi-square on dict-built contingency tables —
    no rearrangement shared with the engines' single-rational form."""
    from big_data_analytics_spark.queries.text import (
        _CHI_TOP,
        fs2_chi2_token_selection,
    )

    rows = duckdb.connect().execute(
        f"SELECT lang, text FROM '{SF}/documents.parquet'").fetchall()
    n_total = len(rows)
    by_lang = Counter(lang for lang, _ in rows)
    in_class = Counter()
    df_tok = Counter()
    for lang, text in rows:
        for tok in set(text.split(" ")):
            in_class[(lang, tok)] += 1
            df_tok[tok] += 1

    scored = {}
    for (lang, tok), a in in_class.items():
        b = df_tok[tok] - a
        c = by_lang[lang] - a
        d = n_total - by_lang[lang] - b
        den = (a + b) * (c + d) * (a + c) * (b + d)
        if den == 0:
            chi_q = 0
        else:
            num = n_total * (a * d - b * c) ** 2
            chi_q = (10 ** 6 * num) // den
        scored.setdefault(lang, []).append((-chi_q, tok, a, b))

    want = {}
    for lang, lst in scored.items():
        lst.sort()
        for rk, (neg_q, tok, a, b) in enumerate(lst[:_CHI_TOP], start=1):
            want[(lang, rk)] = (tok, a, b, -neg_q)

    got = {(r["lang"], int(r["rk"])): (
        r["tok"], int(r["n_in_class"]), int(r["n_out_class"]),
        int(r["chi2_q"]))
        for r in fs2_chi2_token_selection(spark, SF).collect()}
    assert got == want
    assert len(got) > 0


def test_gov2_matches_pure_python_recount(spark):
    from big_data_analytics_spark.queries.governance import (
        _L_DIVERSE,
        gov2_l_diversity,
    )

    rows = duckdb.connect().execute(
        f"SELECT c_nationkey, c_mktsegment, c_acctbal "
        f"FROM '{SF}/customer.parquet'").fetchall()
    segs = {}
    for nk, seg, bal in rows:
        k = (int(nk), math.floor(float(bal) / 1000.0))
        segs.setdefault(k, Counter())[seg] += 1

    want = {}
    for k, c in segs.items():
        n = sum(c.values())
        want[k] = (n, len(c), len(c) >= _L_DIVERSE,
                   math.floor(1e9 * max(c.values()) / n))
    got = {(int(r["c_nationkey"]), int(r["bal_band"])): (
        int(r["n"]), int(r["l_distinct"]), bool(r["is_l_diverse"]),
        int(r["max_seg_share_q"]))
        for r in gov2_l_diversity(spark, SF).collect()}
    assert got == want


def test_v11_matches_pure_python_mmr(spark):
    """Imperative greedy MMR over dict-built cosine tables."""
    from big_data_analytics_spark.queries.similarity import (
        _MMR_CAND,
        _MMR_K,
        N_QUERY_VECS,
        v11_mmr_diversified,
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
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    def cos(a, b):
        return round6(dot(a, b) / (math.sqrt(dot(a, a))
                                   * math.sqrt(dot(b, b))))

    want = {}
    for qid in range(N_QUERY_VECS):
        qv = vecs[qid]
        scored = sorted(
            ((-cos(qv, cv), nid) for nid, cv in vecs.items()
             if nid >= N_QUERY_VECS))
        cand = [(nid, -neg) for neg, nid in scored[:_MMR_CAND]]
        sel = []
        for r in range(1, _MMR_K + 1):
            best = None
            for nid, rel in cand:
                if nid in (s for s, _, _ in sel):
                    continue
                if r == 1:
                    score = rel
                else:
                    ms = max(cos(vecs[nid], vecs[s])
                             for s, _, _ in sel)
                    score = rel - ms
                key = (-score, nid)
                if best is None or key < best[0]:
                    best = (key, nid, rel, score)
            sel.append((best[1], best[2], best[3]))
            want[(qid, r)] = (best[1], best[2], best[3])

    got = {(int(r["query_id"]), int(r["mmr_round"])): (
        int(r["neighbor_id"]), float(r["rel"]), float(r["mmr_score"]))
        for r in v11_mmr_diversified(spark, SF).collect()}
    assert got == want
    assert len(got) == N_QUERY_VECS * _MMR_K


def test_sk7_matches_pure_python_kmv(spark):
    """Imperative KMV: hashlib md5, heapq-free sorted k-sets."""
    import hashlib

    from big_data_analytics_spark.queries.sketches import (
        _KMV_K,
        _KMV_MAX,
        sk7_kmv_theta_ops,
    )

    rows = duckdb.connect().execute(
        f"SELECT event_type, user_id FROM '{SF}/events.parquet' "
        f"WHERE event_type IN ('view', 'purchase')").fetchall()

    def h(u):
        return int(hashlib.md5(str(int(u)).encode()).hexdigest()[:12], 16)

    a_users = {int(u) for t, u in rows if t == "view"}
    b_users = {int(u) for t, u in rows if t == "purchase"}
    ha = {h(u) for u in a_users}
    hb = {h(u) for u in b_users}
    ska = sorted(ha)[:_KMV_K]
    skb = sorted(hb)[:_KMV_K]
    sku = sorted(ha | hb)[:_KMV_K]
    rho = sum(1 for x in sku if x in set(ska) and x in set(skb))

    def est(ks):
        if len(ks) < _KMV_K:
            return len(ks)
        return (_KMV_K - 1) * _KMV_MAX // ks[-1]

    want = {
        "view": (len(a_users), est(ska)),
        "purchase": (len(b_users), est(skb)),
        "union": (len(a_users | b_users), est(sku)),
        "intersection": (len(a_users & b_users),
                         rho * est(sku) // len(sku)),
    }
    got = {r["set_name"]: (int(r["exact_n"]), int(r["est_n"]))
           for r in sk7_kmv_theta_ops(spark, SF).collect()}
    assert got == want
    # at this fixture every sketch is in exact mode -> estimates exact
    for name, (exact, est_v) in got.items():
        assert est_v == exact, (name, exact, est_v)


def test_dq5_matches_pure_python_recount(spark):
    from big_data_analytics_spark.queries.quality import (
        dq5_benford_audit,
    )

    rows = duckdb.connect().execute(
        f"SELECT CAST(l_extendedprice * 100 AS BIGINT) "
        f"FROM '{SF}/lineitem.parquet'").fetchall()
    counts = Counter(int(str(c)[0]) for (c,) in rows)
    total = sum(counts.values())
    want = {}
    for d, n in counts.items():
        share = math.floor(1e9 * n / total)
        benford = math.floor(1e9 * math.log(1 + 1 / d) / math.log(10))
        want[d] = (n, share, benford, share - benford)
    got = {int(r["first_digit"]): (
        int(r["n"]), int(r["share_q"]), int(r["benford_q"]),
        int(r["dev_q"]))
        for r in dq5_benford_audit(spark, SF).collect()}
    assert got == want


def test_sk7_estimates_within_band_when_full(spark):
    """At sf0.01 (150 distinct users per type) every sketch is FULL,
    so the estimation formula path — the one the driver gate
    hash-checks — must also actually estimate well: KMV at K=64 has
    ~1/sqrt(62) ~ 12.7% relative std error; assert a 3-sigma band."""
    from big_data_analytics_spark.queries.sketches import (
        sk7_kmv_theta_ops,
    )

    rows = {r["set_name"]: (int(r["exact_n"]), int(r["est_n"]))
            for r in sk7_kmv_theta_ops(
                spark, "/root/testdata/sf0.01").collect()}
    for name in ("view", "purchase", "union"):
        exact, est = rows[name]
        assert abs(est - exact) <= 0.4 * exact, (name, exact, est)
    exact_i, est_i = rows["intersection"]
    # intersection compounds union + matching-fraction error
    assert abs(est_i - exact_i) <= max(0.5 * exact_i, 10), rows


def test_at2_matches_pure_python_markov(spark):
    """Third formulation: dict-built transitions + Fraction-exact
    absorption recursion, floored per round like both engines."""
    from big_data_analytics_spark.queries.cdc import (
        _MK_Q,
        _MK_STEPS,
        at2_markov_journey,
    )

    rows = duckdb.connect().execute(
        f"SELECT user_id, event_type, ts, event_id "
        f"FROM '{SF}/events.parquet' ORDER BY user_id, ts, event_id"
    ).fetchall()
    by_user = {}
    for u, t, ts, eid in rows:
        by_user.setdefault(int(u), []).append(t)
    c = Counter()
    for seq in by_user.values():
        for s, d in zip(seq, seq[1:]):
            if s != "purchase":
                c[(s, d)] += 1
    cs = Counter()
    for (s, _d), n in c.items():
        cs[s] += n
    v = {s: 0 for s in cs}
    v["purchase"] = _MK_Q
    for _ in range(_MK_STEPS):
        v = {**{s: sum(n * v.get(d, 0) for (s2, d), n in c.items()
                       if s2 == s) // cs[s] for s in cs},
             "purchase": _MK_Q}
    want = {(s, d): (n, _MK_Q * n // cs[s], cs[s], v[s])
            for (s, d), n in c.items()}
    got = {(r["s"], r["d"]): (int(r["c"]), int(r["p_q"]),
                              int(r["n_out"]),
                              int(r[f"conv{_MK_STEPS}_q"]))
           for r in at2_markov_journey(spark, SF).collect()}
    assert got == want
    assert len(got) > 0
    # absorption probabilities are probabilities
    assert all(0 <= t[3] <= _MK_Q for t in got.values())


def test_cal2_matches_pure_python_recount(spark):
    from big_data_analytics_spark.queries.monitoring import (
        _BRIER_Q,
        cal2_brier_decomposition,
    )

    rows = duckdb.connect().execute(
        f"SELECT CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT), "
        f"CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END "
        f"FROM '{SF}/lineitem.parquet'").fetchall()
    bins = {}
    for dc, y in rows:
        n, pos = bins.get(int(dc), (0, 0))
        bins[int(dc)] = (n + 1, pos + int(y))
    nt = sum(n for n, _ in bins.values())
    post = sum(p for _, p in bins.values())
    obar_q = math.floor(_BRIER_Q * post / nt)
    rel_q = res_q = brier_raw = 0
    for dc, (n, pos) in bins.items():
        pb_q = dc * 10000
        ob_q = math.floor(_BRIER_Q * pos / n)
        rel_q += n * ((pb_q - ob_q) ** 2 // _BRIER_Q) // nt
        res_q += n * ((ob_q - obar_q) ** 2 // _BRIER_Q) // nt
        brier_raw += pos * (dc - 100) ** 2 + (n - pos) * dc * dc
    brier_q = _BRIER_Q * brier_raw // (10000 * nt)
    unc_q = obar_q * (_BRIER_Q - obar_q) // _BRIER_Q
    want = (nt, obar_q, brier_q, rel_q, res_q, unc_q,
            brier_q - (rel_q - res_q + unc_q))
    r = cal2_brier_decomposition(spark, SF).collect()[0]
    got = (int(r["n_rows"]), int(r["obar_q"]), int(r["brier_q"]),
           int(r["rel_q"]), int(r["res_q"]), int(r["unc_q"]),
           int(r["decomp_gap_q"]))
    assert got == want
    # the identity holds up to quantization: gap within 100 micro-units
    assert abs(got[6]) <= 100


def test_ts8_matches_pure_python_theil_sen(spark):
    """Imperative Theil-Sen: dict-built daily series, explicit pair
    loop, sorted-list lower median."""
    from big_data_analytics_spark.queries.timeseries_queries import (
        _SEN_Q,
        ts8_theil_sen_trend,
    )

    rows = duckdb.connect().execute(
        f"SELECT user_id, date_trunc('day', ts), "
        f"CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) "
        f"FROM '{SF}/events.parquet'").fetchall()
    daily = {}
    for u, d, c in rows:
        daily.setdefault(int(u), Counter())[d] += int(c)

    want = {}
    for u, series in daily.items():
        days = sorted(series)
        slopes = []
        for i in range(len(days)):
            for j in range(i + 1, len(days)):
                dv = series[days[j]] - series[days[i]]
                dd = (days[j] - days[i]).days
                slopes.append(math.floor(_SEN_Q * dv / dd))
        if not slopes:
            continue
        slopes.sort()
        want[u] = (len(days), len(slopes),
                   slopes[(len(slopes) + 1) // 2 - 1])

    got = {int(r["user_id"]): (int(r["n_days"]), int(r["n_pairs"]),
                               int(r["sen_slope_q"]))
           for r in ts8_theil_sen_trend(spark, SF).collect()}
    assert got == want
    assert len(got) > 0


def test_gr10_matches_pure_python_bfs(spark):
    """Dict-adjacency multi-source BFS with an explicit per-seed
    visited set — no joins, no recursion shared with either engine."""
    from big_data_analytics_spark.queries.graph_queries import (
        _HC_HOPS,
        _HC_Q,
        gr10_harmonic_centrality,
    )

    rows = duckdb.connect().execute(
        f"SELECT l_orderkey, l_partkey FROM '{SF}/lineitem.parquet'"
    ).fetchall()
    by_order = {}
    for o, p in rows:
        by_order.setdefault(int(o), set()).add(int(p))
    adj = {}
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    adj.setdefault(a, set()).add(b)

    seeds = [s for s in adj if s < 10]
    harm = Counter()
    nsee = Counter()
    for s in seeds:
        dist = {s: 0}
        frontier = {s}
        for h in range(1, _HC_HOPS + 1):
            nxt = set()
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = h
                        nxt.add(v)
            frontier = nxt
        for v, d in dist.items():
            if d >= 1:
                harm[v] += _HC_Q // d
                nsee[v] += 1

    want = {v: (nsee[v], harm[v]) for v in harm}
    got = {int(r["l_partkey"]): (int(r["n_seeds"]), int(r["harm_q"]))
           for r in gr10_harmonic_centrality(spark, SF).collect()}
    assert got == want
    assert len(got) > 0


def _xy2d(n, x, y):
    """Textbook Hilbert xy2d (flip-within-subsquare + swap)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_operator_matches_textbook_xy2d(spark):
    """The unrolled column expressions must equal the imperative
    recursion for every cell of a full small grid AND a sample of
    full-width keys."""
    from big_data_analytics_spark.operators.zorder import with_hilbert2

    small = [(x, y) for x in range(16) for y in range(16)]
    big = [(i * 9973 % 65536, i * 31337 % 65536) for i in range(200)]
    df = spark.createDataFrame(small + big, "x long, y long")
    got = {(int(r["x"]), int(r["y"])): int(r["h"])
           for r in with_hilbert2(df, "x", "y").collect()}
    for x, y in small + big:
        assert got[(x, y)] == _xy2d(1 << 16, x, y), (x, y)


def test_hilbert_adjacency_property():
    """The defining Hilbert property: consecutive indices are always
    Manhattan-adjacent cells (Morton provably violates this at every
    power-of-two boundary) — full 32x32 grid."""
    n = 32
    pos = {}
    for x in range(n):
        for y in range(n):
            pos[_xy2d(n, x, y)] = (x, y)
    assert len(pos) == n * n  # bijective
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d


def test_hilbert_prunes_better_than_morton_off_alignment():
    """The measurable Hilbert advantage, stated precisely: both
    curves are hierarchical on power-of-4 blocks, so at ALIGNED
    bucket sizes their bounding boxes are identical (verified on the
    fixture's thin 200x10 key slab AND a square grid — recorded in
    SCALE.md); the locality win appears exactly when buckets straddle
    block boundaries. At non-power-of-4 buckets over a dense square
    grid, Hilbert's contiguous walk must prune strictly better than
    Morton's jumps for the same bucket count: fewer buckets intersect
    a fixed panel of box predicates."""

    def morton(x, y):
        d = 0
        for b in range(8):
            d |= ((x >> b) & 1) << (2 * b)
            d |= ((y >> b) & 1) << (2 * b + 1)
        return d

    n = 256
    for cells in (768, 1536, 3000):
        hits = {}
        for name, f in (("morton", morton),
                        ("hilbert", lambda x, y: _xy2d(n, x, y))):
            boxes = {}
            for x in range(n):
                for y in range(n):
                    b = f(x, y) // cells
                    ip, ap, is_, as_ = boxes.get(b, (n, -1, n, -1))
                    boxes[b] = (min(ip, x), max(ap, x),
                                min(is_, y), max(as_, y))
            h = 0
            for p in range(0, n, 32):
                for q in range(0, n, 32):
                    lo_p, hi_p, lo_s, hi_s = p, p + 15, q, q + 15
                    h += sum(1 for (ip, ap, is_, as_) in boxes.values()
                             if not (ap < lo_p or ip > hi_p
                                     or as_ < lo_s or is_ > hi_s))
            hits[name] = (len(boxes), h)
        assert hits["hilbert"][0] == hits["morton"][0]  # same buckets
        assert hits["hilbert"][1] < hits["morton"][1], (cells, hits)
