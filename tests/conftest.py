from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_analytics_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield spark


def pytest_itemcollected(item):
    """Give each oracle-gate item its query's defining-module stem as a
    ``-k`` keyword, so ``-k <module-stem>`` selects that module's whole
    family; test ids (and ``-k <query-name>``) are unchanged."""
    if item.path.name != "test_queries_vs_duckdb.py":
        return
    spark_fn = item.module.REGISTRY[item.callspec.params["name"]].spark_fn
    item.extra_keyword_matches.add(spark_fn.__module__.rsplit(".", 1)[-1])
