"""Independent imperative recount for ts2_hourly_gap_fill — its oracle
restates the same grid/window/interpolation derivation as the Spark
plan (ORACLE INDEPENDENCE policy, queries/__init__.py). This reference
is a per-user Python loop over a dict keyed by epoch-hour: no windows,
no SQL, no sequence() — grid, bracketing, interpolation and the
half-up fixed-point re-derived from the spec prose."""

from __future__ import annotations

import math

import duckdb


def _reference(rows):
    # rows: (user_id, epoch_seconds, value)
    hourly: dict[tuple[int, int], int] = {}
    for u, secs, v in rows:
        hi = secs // 3600
        hourly[(u, hi)] = hourly.get((u, hi), 0) + int(
            math.floor(v * 100.0 + 0.5))
    users = sorted({u for u, _ in hourly})
    out = {}
    for u in users:
        his = sorted(h for uu, h in hourly if uu == u)
        lo, hi = his[0], his[-1]
        n_hours = hi - lo + 1
        n_obs = len(his)
        total = 0
        for h in range(lo, hi + 1):
            if (u, h) in hourly:
                total += hourly[(u, h)]
            else:
                ph = max(x for x in his if x < h)
                nh = min(x for x in his if x > h)
                pv, nv = hourly[(u, ph)], hourly[(u, nh)]
                interp = (float(pv) + (float(nv) - float(pv))
                          * (float(h) - float(ph))
                          / (float(nh) - float(ph)))
                total += int(math.floor(interp + 0.5))
        out[u] = (n_hours, n_obs, n_hours - n_obs,
                  round(float(total) / 100.0, 2))
    return out


def test_ts2_matches_imperative_recount(spark):
    from big_data_analytics_spark.queries.timeseries_queries import (
        ts2_hourly_gap_fill,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    # floor, not CAST: DuckDB's double->bigint cast ROUNDS half-even,
    # which pushes an event 0.3s before an hour boundary into the next
    # hour and shifts a bracket (caught on user 14 at sf0.001)
    rows = con.sql(
        f"SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT), value "
        f"FROM '{sf}/events.parquet'").fetchall()
    want = _reference([(int(u), int(s), float(v)) for u, s, v in rows])

    got = {int(r["user_id"]): (int(r["n_hours"]), int(r["n_observed"]),
                               int(r["n_gap_filled"]),
                               float(r["total_value"]))
           for r in ts2_hourly_gap_fill(spark, sf).collect()}
    assert got == want
