"""The per-module oracle gate, ``pytest tests/test_queries_vs_duckdb.py
-k <module-stem>``, must select that module's whole query family.

Test ids carry only query names, so ``-k`` reaches the module through
the keyword that ``tests/conftest.py`` adds to every oracle-gate item.
A stem that also occurs inside a query name selects that query as well
(``-k windows`` adds ``sm12_stream_chained_windows``).
"""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

import pytest

from big_data_analytics_spark.queries import load_all

ROOT = Path(__file__).resolve().parent.parent
REGISTRY = load_all()
STEMS = ["text", "relational", "tpch_extra", "sampling", "scalar_funcs",
         "windows", "timeseries_queries"]


@pytest.mark.parametrize("stem", STEMS)
def test_module_stem_selects_its_family(stem):
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/test_queries_vs_duckdb.py",
         "--collect-only", "-q", "-k", stem, "-p", "no:cacheprovider"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    selected = set(re.findall(r"::test_query_\w+\[(\w+)\]", out))
    expected = {n for n, q in REGISTRY.items()
                if q.spark_fn.__module__.rsplit(".", 1)[-1] == stem
                or stem in n}
    assert selected == expected
