"""Session-memo contract (big_data_analytics_spark/caching.py).

Every session-bound relation is memoized through ``session_memo``:
two SparkSessions on one SparkContext each get frames bound to
themselves, eviction releases persisted blocks wherever a value
nests them, and positional/keyword calls share one entry.

The JVM-wide generated-code cache (``session._DEFAULTS``) holds a warm
pass's classes, so a second run of the same queries compiles nothing.
"""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame

import big_data_analytics_spark
from big_data_analytics_spark import caching, session
from tests.conftest import SF_SMOKE

#: (module under the package, memoized function, args after sf_dir)
MEMOS = [
    ("catalog", "load_table", ("orders",)),
    ("queries.ecommerce_shaped", "_fixture", ()),
    ("queries.market", "_baskets", ()),
    ("queries.market", "_ratings", ()),
    ("queries.dedup_queries", "_lsh_index", ()),
    ("queries.similarity", "_ivf_assigned", ()),
    ("queries.graph_queries", "_weighted_edges", ()),
    ("queries.graph_queries", "_graph_inputs", (False,)),
    ("queries.graph_queries", "_edges_by_src", ()),
    ("queries.graph_queries", "_lpa_labels", ()),
]


def _frame(value) -> DataFrame:
    """The first DataFrame of a memoized value (a frame, a dict of
    frames, or a tuple holding one)."""
    if isinstance(value, DataFrame):
        return value
    if isinstance(value, dict):
        value = list(value.values())
    return next(v for v in value if isinstance(v, DataFrame))


@pytest.fixture(scope="module")
def other(spark):
    """A second session on the shared SparkContext."""
    session = spark.newSession()
    yield session
    caching.evict_all()  # drop the entries pinning this session


@pytest.mark.parametrize("module,name,args", MEMOS,
                         ids=[name for _, name, _ in MEMOS])
def test_memo_returns_frames_of_the_calling_session(spark, other, module,
                                                    name, args):
    fn = getattr(importlib.import_module(
        f"big_data_analytics_spark.{module}"), name)
    for session in (spark, other):
        assert _frame(fn(session, SF_SMOKE, *args)).sparkSession is session


def _released(df: DataFrame) -> bool:
    return df.storageLevel == StorageLevel.NONE


def test_evict_all_unpersists_nested_values(other):
    from big_data_analytics_spark.queries.graph_queries import _edges_by_src

    @caching.session_memo
    def persisted_dict(spark):
        return {"t": spark.range(3).persist()}

    by_src = _edges_by_src(other, SF_SMOKE)
    held = persisted_dict(other)["t"]
    assert not _released(by_src) and not _released(held)
    n = sum(len(c) for c in caching._REGISTRY)
    assert caching.evict_all() == n
    assert _released(by_src) and _released(held)
    assert not any(caching._REGISTRY)


def test_load_table_hit_repins_utc(spark):
    from big_data_analytics_spark.catalog import load_table

    first = load_table(spark, SF_SMOKE, "orders")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        assert load_table(spark, SF_SMOKE, "orders") is first
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_positional_and_keyword_calls_share_one_entry(spark):
    from big_data_analytics_spark.queries.graph_queries import _graph_inputs

    builds = []

    @caching.session_memo
    def f(spark, sf_dir, weighted=False):
        builds.append((sf_dir, weighted))
        return object()

    hits = {id(f(spark, "x")), id(f(spark, "x", False)),
            id(f(spark, "x", weighted=False)),
            id(f(spark, sf_dir="x", weighted=False))}
    assert len(hits) == 1 and builds == [("x", False)]
    assert (_graph_inputs(spark, SF_SMOKE, False)
            is _graph_inputs(spark, SF_SMOKE, weighted=False))


def test_one_way_to_memoize_a_session_relation():
    from big_data_analytics_spark.queries import ecommerce_shaped

    pkg = Path(big_data_analytics_spark.__file__).parent
    registrations = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "caching.py":
            continue
        text = path.read_text()
        assert "applicationId" not in text, path
        registrations += [line.strip() for line in text.splitlines()
                          if "register_cache(" in line]
    assert len(registrations) == 1
    assert registrations[0].startswith("_BUCKETS_EXPR_CACHE")
    assert not hasattr(ecommerce_shaped, "clear_fixture_cache")


def test_derived_fixture_rebuilds_only_on_a_new_signature(tmp_path):
    root = tmp_path / "fx"
    builds = []

    def build():
        builds.append(1)
        (root / "data").mkdir(parents=True)
        (root / "data" / "part.crc").write_text("")

    caching.derived_fixture(root, "v1", build)
    assert (root / "_DONE").read_text() == "v1"
    assert not (root / "data" / "part.crc").exists()
    caching.derived_fixture(root, "v1", build)
    assert len(builds) == 1
    caching.derived_fixture(root, "v2", build)  # wipes, then rebuilds
    caching.derived_fixture(root, "v2", build, force=True)
    assert len(builds) == 3 and (root / "_DONE").read_text() == "v2"


#: Deterministic registry queries whose generated classes together
#: exceed Spark's default cache of 100 entries: the paper pipelines and
#: the perfbench dashboard's light star-schema shapes. ``ecom_clv`` is
#: left out: one of its later runs can number its two user-level
#: aggregate stages differently, and the stage id is part of the
#: generated class, so that run compiles two classes once.
CODEGEN_SET = [
    "ecom_revenue_by_state", "ecom_top_products",
    "ecom_product_daily_metrics", "ecom_monthly_sales",
    "ecom_products_enriched", "ecom_dwell_times", "ecom_page_transitions",
    "ecom_inventory_levels", "a1_pricing_summary", "j1_revenue_by_nation",
    "o1_top_orders_by_revenue", "j2_customer_order_stats",
    "a12_event_daily_metrics", "w5_customer_running_spend",
    "w7_sessionize_events", "j7_regional_supplier_volume", "d1_exact_dedup",
    "t5_corpus_stats", "o2g_topk_per_group", "t9_sequence_packing",
]


def test_warm_rerun_compiles_no_generated_code(spark):
    """At Spark's default of 100 entries the second run evicts and
    recompiles most of the set's classes through Janino."""
    from big_data_analytics_spark.queries import load_all

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == session._DEFAULTS[key]
    registry = load_all()

    def compiles_of_one_run():
        c0 = session.codegen_compiles(spark)
        for name in CODEGEN_SET:
            (registry[name].spark_fn(spark, SF_SMOKE)
             .write.format("noop").mode("overwrite").save())
        return session.codegen_compiles(spark) - c0

    first = compiles_of_one_run()
    assert compiles_of_one_run() == 0, f"first run compiled {first}"


def test_components_rerun_compiles_no_generated_code(spark):
    """The components loops probe convergence with ``isEmpty()``. A
    ``.limit(1).count()`` probe names its limit counter
    ``_limit_counter_<n>`` from a JVM-wide sequence, so every call
    compiled new classes whatever the cache size (cc1, cc2).

    Adaptive execution is off for the two calls: on this toy input it
    picks the broadcast side of the label join by whichever shuffle
    stage finishes first, a race that compiles a second plan variant
    once per JVM, which is not what this guard is about."""
    from big_data_analytics_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9)], "id_a long, id_b long")

    def compiles_of_one_call():
        c0 = session.codegen_compiles(spark)
        connected_components(edges).collect()
        return session.codegen_compiles(spark) - c0

    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        first = compiles_of_one_call()
        assert compiles_of_one_call() == 0, f"first call compiled {first}"
    finally:
        spark.conf.set(key, old)
