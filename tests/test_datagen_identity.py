"""Row-level identity of the e-commerce generator.

``tests/datagen_identity.json`` holds, for two sizes, an order-
independent digest of every ``gen_all`` table (row count and the sum
of per-row ``xxhash64(to_json(row))``) and each table's exact
``schema.json()``, nullability included. It was captured from the
Column-API generator that the SQL-text one replaced; any change to a
row, a value's type or a field's nullability fails here, even where
``test_golden.py``'s pipeline aggregates still agree.

The round-trip guard keeps the generator's driver-side build cheap:
each ``Column`` node built in Python is one py4j call, and building
the tables node by node took ~7,800 calls per ``gen_all``.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from big_data_analytics_spark.datagen import gen_all

GOLDEN = json.loads(
    (Path(__file__).with_name("datagen_identity.json")).read_text())

#: py4j round trips allowed for one warm ``gen_all`` call.
MAX_ROUND_TRIPS = 500


def digest(df) -> str:
    r = df.select(F.to_json(F.struct("*")).alias("j")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("j").cast("decimal(38,0)")).alias("s")).first()
    return f"{r.n}:{r.s}"


@pytest.mark.parametrize("sizes", sorted(GOLDEN["digests"]))
def test_gen_all_rows_and_schemas_unchanged(spark, sizes):
    n_users, n_products, n_categories, n_sessions = map(int, sizes.split("/"))
    tables = gen_all(spark, n_users=n_users, n_products=n_products,
                     n_categories=n_categories, n_sessions=n_sessions)
    assert list(tables) == list(GOLDEN["schemas"])
    for name, df in tables.items():
        assert df.schema.json() == GOLDEN["schemas"][name], name
    got = {name: digest(df) for name, df in tables.items()}
    assert got == GOLDEN["digests"][sizes]


def test_gen_all_round_trip_budget(spark):
    from py4j.clientserver import ClientServerConnection

    sizes = dict(n_users=10_000, n_products=5_000, n_categories=25,
                 n_sessions=10_000)
    gen_all(spark, **sizes)  # warm: first-call JVM class lookups
    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        calls[0] += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        gen_all(spark, **sizes)
    finally:
        ClientServerConnection.send_command = send
    assert calls[0] > 0, "py4j calls did not go through ClientServerConnection"
    assert calls[0] <= MAX_ROUND_TRIPS, (
        f"gen_all made {calls[0]} py4j round trips (budget "
        f"{MAX_ROUND_TRIPS}): is a generator building Column trees again?")
