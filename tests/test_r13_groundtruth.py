"""Independent imperative recounts for round-13 additions (ORACLE
INDEPENDENCE policy, queries/__init__.py): gov3 t-closeness. The
recount re-derives every class's TVD from the raw parquet in plain
Python (Counter + Fraction — exact rational arithmetic, no floor
tricks shared with either engine), so a shared Spark/oracle
formulation bug cannot hash-match green.
"""

import math
from collections import Counter
from fractions import Fraction

import duckdb

SF = "/root/testdata/sf0.001"


def test_gov3_matches_pure_python_tvd(spark):
    from big_data_analytics_spark.queries.governance import (
        _T_CLOSE_Q,
        gov3_t_closeness,
    )

    rows = duckdb.connect().execute(
        f"SELECT c_nationkey, c_acctbal, c_mktsegment "
        f"FROM '{SF}/customer.parquet'").fetchall()
    n_total = len(rows)
    glob = Counter(seg for _, _, seg in rows)
    cls_seg: Counter = Counter()
    cls_n: Counter = Counter()
    for nk, bal, seg in rows:
        band = math.floor(bal / 1000.0)
        cls_seg[(nk, band, seg)] += 1
        cls_n[(nk, band)] += 1

    want = {}
    for (nk, band), n in cls_n.items():
        tvd = Fraction(0)
        for seg, g in glob.items():
            p = Fraction(cls_seg.get((nk, band, seg), 0), n)
            q = Fraction(g, n_total)
            tvd += abs(p - q)
        tvd = tvd / 2
        tvd_q = (tvd.numerator * 10**9) // tvd.denominator
        want[(nk, band)] = (n, tvd_q, tvd_q <= _T_CLOSE_Q)

    got = {(int(r["c_nationkey"]), int(r["bal_band"])): (
        int(r["n"]), int(r["tvd_q"]), bool(r["is_t_close"]))
        for r in gov3_t_closeness(spark, SF).collect()}
    assert got == want
    # sanity: the fixture exercises both verdicts or at least has
    # classes (a degenerate all-true fixture would not prove the
    # threshold comparison runs)
    assert len(got) > 10


def test_t19_matches_pure_python_heaps(spark):
    """t19: re-derive each language's Heaps curve and OLS slope from
    the raw parquet with dicts and loops — a literal cumulative
    vocabulary scan over doc_id order, no first-decile trick — so a
    shared formulation bug in the decile/min(dec) derivation cannot
    hash-match green."""
    from big_data_analytics_spark.queries.text import (
        _HEAPS_D,
        _HEAPS_Q,
        t19_heaps_law,
    )

    rows = duckdb.connect().execute(
        f"SELECT doc_id, lang, text FROM '{SF}/documents.parquet' "
        f"ORDER BY doc_id").fetchall()
    m = max(d for d, _, _ in rows)
    # literal scan: walk docs in id order, maintain per-lang seen-set
    # and counters, snapshot at each decile boundary
    seen: dict = {}
    ntok: Counter = Counter()
    vsize: Counter = Counter()
    series: dict = {}
    for d, lang, text in rows:
        dec = min(_HEAPS_D - 1, (_HEAPS_D * d) // (m + 1))
        for t in text.split(" "):
            ntok[lang] += 1
            if t not in seen.setdefault(lang, set()):
                seen[lang].add(t)
                vsize[lang] += 1
        series.setdefault(lang, {})[dec] = (ntok[lang], vsize[lang])
    want = {}
    for lang, by_dec in series.items():
        pts = []
        for dec in sorted(by_dec):
            nk, vk = by_dec[dec]
            pts.append((math.floor(math.log(nk) * _HEAPS_Q),
                        math.floor(math.log(vk) * _HEAPS_Q)))
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        den = n * sxx - sx * sx
        beta_q = (0 if den == 0 else
                  math.floor(_HEAPS_Q * ((n * sxy - sx * sy) / den)))
        # Both engines read total_tokens/vocab_size from decile D-1
        # specifically (MAX(CASE WHEN dec = D-1 ...)), not from the
        # last PRESENT decile — a language absent from the final
        # decile gets NULLs there. Assert the fixture satisfies the
        # query's premise explicitly so a skewed fixture fails HERE
        # with a readable message instead of int(None) below (r13
        # ADVICE), then mirror the engines' dec = D-1 read.
        assert _HEAPS_D - 1 in by_dec, (
            f"fixture premise violated: lang {lang!r} has no docs in "
            f"decile {_HEAPS_D - 1}; t19's total_tokens/vocab_size "
            f"would be NULL for it on both engines")
        last = by_dec[_HEAPS_D - 1]
        want[lang] = (n, last[0], last[1], beta_q)

    got = {r["lang"]: (int(r["n_points"]), int(r["total_tokens"]),
                       int(r["vocab_size"]), int(r["beta_q"]))
           for r in t19_heaps_law(spark, SF).collect()}
    assert got == want
    # the exponent should be a real sublinear-growth reading on at
    # least one language (0 < beta < 1e6 == 1.0)
    assert any(0 < b < 10**6 for _, _, _, b in got.values())


def test_t20_matches_pure_python_pmi(spark):
    """t20: re-derive the top collocations with Counters and Python's
    unbounded integers — literal unigram/bigram tallies, the exact
    cross-multiplied rank key evaluated with arbitrary-precision //
    (no 128-bit decimal machinery shared with either engine) — so a
    shared join or normalization bug in the Spark/oracle formulation
    cannot hash-match green. Also asserts the rank key's defining
    property: it orders bigrams exactly as true float PMI does,
    except where the 1e18 grid ties them (none at this sf)."""
    from big_data_analytics_spark.queries.text import (
        _PMI_MIN_C,
        _PMI_RQ,
        _PMI_TOP,
        t20_pmi_collocations,
    )

    rows = duckdb.connect().execute(
        f"SELECT text FROM '{SF}/documents.parquet'").fetchall()
    uni: Counter = Counter()
    big: Counter = Counter()
    n_pairs = 0
    for (text,) in rows:
        ts = text.split(" ")
        uni.update(ts)
        for a, b in zip(ts, ts[1:]):
            big[(a, b)] += 1
            n_pairs += 1
    n_tok = sum(uni.values())

    scored = []
    for (w1, w2), c12 in big.items():
        if c12 < _PMI_MIN_C:
            continue
        rank_q = (_PMI_RQ * c12) // (uni[w1] * uni[w2])
        scored.append((w1, w2, c12, uni[w1], uni[w2], rank_q))
    scored.sort(key=lambda r: (-r[5], r[0], r[1]))
    want = scored[:_PMI_TOP]

    got = [(r["w1"], r["w2"], int(r["c12"]), int(r["c1"]),
            int(r["c2"]), int(r["pmi_rank_q"]))
           for r in t20_pmi_collocations(spark, SF).collect()]
    assert got == want
    assert len(got) == _PMI_TOP

    # rank-key fidelity: PMI = ln(c12 * N^2 / (B * c1 * c2)) is
    # monotone in the exact ratio c12/(c1*c2) because N and B are
    # corpus constants, so descending-key order IS descending-PMI
    # order provided the 1e18 grid never merges two DISTINCT ratios.
    # Key ties do occur (bigrams with identical count triples are
    # genuine PMI ties, broken lexically on both engines) — assert
    # every tie is that kind: one exact Fraction per key group.
    from collections import defaultdict
    from fractions import Fraction

    by_key = defaultdict(set)
    for w1, w2, c12, c1, c2, k in scored:
        by_key[k].add(Fraction(c12, c1 * c2))
    merged = {k: fr for k, fr in by_key.items() if len(fr) > 1}
    assert not merged, (
        f"1e18 grid merged distinct PMI ratios: {merged} — raise "
        f"_PMI_RQ or accept rank infidelity explicitly")
    by_ratio = sorted(
        scored, key=lambda r: (-Fraction(r[2], r[3] * r[4]),
                               r[0], r[1]))
    assert [r[:2] for r in by_ratio[:_PMI_TOP]] == [r[:2] for r in want]
