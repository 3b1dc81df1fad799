"""Independent ground-truth recount for es1 — the oracle restates the
same k-gram-window + gaps-and-islands derivation as the Spark plan, so
a shared off-by-one (window bound, island gap, span cover arithmetic)
would hash-match green (the gr7 lesson, queries/__init__.py ORACLE
INDEPENDENCE). This recount is imperative Python over raw strings: a
dict of k-gram occurrence counts, a linear scan merging duplicate
positions into spans — no SQL windows, no arrays-in-SQL."""

from __future__ import annotations

import duckdb

from big_data_analytics_spark.queries.text import _K


def _reference(texts: dict[int, str]) -> dict[int, tuple[int, int, int, int]]:
    toks = {d: t.split(" ") for d, t in texts.items()}
    counts: dict[str, int] = {}
    for d, ts in toks.items():
        for p in range(len(ts) - _K + 1):
            g = " ".join(ts[p:p + _K])
            counts[g] = counts.get(g, 0) + 1
    out = {}
    for d, ts in toks.items():
        dup = [p for p in range(len(ts) - _K + 1)
               if counts[" ".join(ts[p:p + _K])] >= 2]
        spans = []
        for p in dup:
            if spans and p - spans[-1][1] <= _K:
                spans[-1] = (spans[-1][0], p)
            else:
                spans.append((p, p))
        covered = sum(hi - lo + _K for lo, hi in spans)
        out[d] = (len(ts), len(dup), len(spans), covered)
    return out


def test_es1_matches_imperative_recount(spark):
    from big_data_analytics_spark.queries.text import (
        es1_exact_substring_spans,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet'").fetchall()
    want = _reference({int(d): t for d, t in rows})

    got = {int(r["doc_id"]): (int(r["n_tokens"]), int(r["n_dup_positions"]),
                              int(r["n_spans"]), int(r["covered_tokens"]))
           for r in es1_exact_substring_spans(spark, sf).collect()}
    assert got == want
