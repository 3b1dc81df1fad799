"""Query registry: every implemented operator from SURVEY.md §2 gets a
named entry pairing a Spark DataFrame implementation with (where
SQL-expressible) an equivalent DuckDB oracle SQL string.

The driver harness (__spark_entry__.py) exposes this registry through
``queries()`` / ``oracle_sql()``; tests/test_queries_vs_duckdb.py runs
the same comparison locally.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL, or None for non-SQL-expressible ops
    doc: str


REGISTRY: dict[str, Query] = {}  # insertion-ordered; see load_all


def query(name: str, oracle: Optional[str] = None):
    """Register a (spark_fn, oracle_sql) pair under ``name``."""
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn
    return deco


#: PRE-COMMIT GATE (standing rule, encoded after the round-7 unrun
#: test and round-8 unrun oracle-gate incidents): before ANY commit
#: that touches a module under ``queries/`` — adding a query, editing
#: one, or changing a shared helper it calls — run that module's full
#: oracle gate, not just the new query's test:
#:     pytest tests/test_queries_vs_duckdb.py -k <module-stem> -q
#: (~1 min/module). Every gate item carries its query's defining-module
#: stem as a keyword (tests/conftest.py), so this selects the module's
#: whole family, plus any query whose name contains the stem. A new
#: query exercised only by its own ``-k name`` run can still break a
#: sibling in the same module (the mm9 commit rebound mm2's module
#: constant: oracle f-strings bind constants at decoration time,
#: bodies read them at call time — see
#: tests/test_module_constant_guard.py). Shared-helper edits gate
#: every consumer module.
#: ADDITIONALLY (round-11 lesson, the gr9/README incident): any commit
#: that ADDS or REMOVES a registry entry must also run the repo-level
#: guard tests — ``pytest tests/test_bench_output.py -q`` (~2 s) —
#: because README.md advertises the registry/oracle counts and
#: test_readme_registry_counts_match fails the suite when they drift.
#: The oracle gate alone does not cover these guards.
#:
#: ORACLE INDEPENDENCE (round-9 lesson, the gr7 incident): when an
#: oracle restates the implementation's ALGORITHM rather than the
#: problem, a shared bug passes the hash gate — gr7's first wedge
#: formulation dropped half of all triangles on BOTH sides (an
#: id-order corner filter against a (degree, id)-oriented closing
#: edge) and hash-matched green. Any query whose oracle mirrors a
#: non-trivial derivation (an orientation, an index, a closed form)
#: needs ONE independent check that states the problem differently —
#: gr7's is a pure id-canonical recount with no orientation at all
#: (tests/test_graph.py::test_gr7_matches_id_canonical_ground_truth);
#: sm11's closed-form oracle is independent of the streamed recursion
#: by construction; the codec queries' closed-form generation
#: formulas are the same idea. Round-9 audit of the other mirrored
#: oracles added imperative third implementations for es1
#: (tests/test_text5_groundtruth.py), gr5 and ts2
#: (tests/test_graph.py, tests/test_ts2_groundtruth.py), and gi1
#: (tests/test_gi1_groundtruth.py); fj1/d9
#: already oracle against the brute-force definition, ivm1 against a
#: full recompute, and the iterative graph ops against pure-python
#: references in tests/test_graph.py. Round-10 additions recount in
#: tests/test_r10_groundtruth.py; round-12 (ir4/ev2/t16/v10/w15) in
#: tests/test_r12_groundtruth.py (mm11's oracle is independent by
#: construction — closed-form generation schedule vs real decode);
#: the round-12 late batch (ev3/ev4/t17/ir5/gov1/gov2/d10/t18/fs2)
#: and v11 in tests/test_r12b_groundtruth.py — ev3's oracle is additionally
#: independent by construction (coded-string byte levenshtein vs
#: numpy DP), as is sm12's (batch SQL restatement vs the engine's
#: chained incremental execution, the sm2/sm11 class). Round-13
#: additions (gov3 exact-Fraction TVD, t19 literal cumulative
#: vocabulary scan, t20 Counter-based PMI) recount in
#: tests/test_r13_groundtruth.py. Round-14: gov4's oracle SHARES the
#: generated CASE chain with the Spark side by design (that is what
#: buys exact cross-engine agreement), so its independent check is
#: the pure-python inverse-CDF recount in
#: tests/test_r14_groundtruth.py; sm14's oracle is independent by
#: construction (batch restatement, the sm2/sm11 class) plus the
#: sm6-equality + RocksDB-artifact test in tests/test_streaming.py.
#:
#: The driver harness grades registry entries head-first (exactly the
#: first 50 each round), so ordering is the grading policy. With the
#: never-graded backlog cleared in round 5, the STANDING ROTATION RULE
#: from round 6 on is: (a) the two canaries, (b) every query written
#: or whose implementation changed this round (graded immediately),
#: (c) the remaining slots filled OLDEST-FIRST — the registered
#: queries whose most recent driver row is the most rounds stale, in
#: registry order, skipping the four declared no-oracle queries
#: (d2/d3/p19/f17 — each already has a green graded deterministic
#: twin; a head slot on a rows-only check refreshes nothing).
#: Each round's cohort and its reasons are recorded in git history,
#: VERDICT.md and CHANGES.md.
GRADE_HEAD = [
    # (a) standing canaries — driver-green every round since r1
    "a1_pricing_summary",
    "w7_sessionize_events",
    # (b) rows changed by the session_memo / derived_fixture move
    "v3_lsh_ann_topk",
    "v3_ivf_topk",
    "mb1_association_rules",
    "cf1_item_item_cosine",
    "sm14_stream_user_totals_rocksdb",
    "gr1_part_pagerank",
    "bj1_bucketed_colocated_join",
    # (c) the full 19-row r9 cohort, registry order
    "q10_returned_items",
    "q13_order_distribution",
    "q18_large_volume_customers",
    "w8_moving_hour_stats",
    "w9_first_last_nth_order",
    "f22_edit_distance",
    "f23_regexp_extract_all",
    "h1_value_histogram",
    "sa1_ordered_string_agg",
    "g3_grouping_sets",
    "sk3_approx_quantiles",
    "t6_chunk_documents",
    "gr6_modularity",
    "mm2_frame_samples",
    "mm8_jpeg_roundtrip",
    "mm9_video_frame_sample",
    "sm10_stream_crash_recovery",
    "sm11_stream_cusum",
    "ts6_seasonal_decompose",
    # (c) r11-vintage fill, oldest-first in registry order (the three
    # ecom_* rows are also ecommerce_shaped fixture consumers — their
    # slots do double duty as rule (b))
    "v9_kcenter_coreset",
    "ecom_revenue_by_state",
    "ecom_top_products",
    "ecom_inventory_levels",
    "p20b_stratified_sample",
    "p19b_hash_split",
    "q5_local_supplier_volume",
    "q7_nation_trade_volume",
    "q8_market_share",
    "q9_product_profit",
    "q21_sole_late_supplier",
    "sk1_hll_distinct_users",
    "sk2_hll_mergeable",
    "sk4_heavy_hitters",
    "sk5_count_min_tokens",
    "t7_vocabulary",
    "t9_sequence_packing",
    "t14_pmi_cooccurrence",
    "q14_brand_revenue_share",
    "q19_or_of_ands",
    "q16_supplier_variety",
    "q2p_min_price_per_type",
]


def load_all() -> dict[str, Query]:
    """Import all query modules, then return the registry reordered so
    the graded head-50 (``GRADE_HEAD``) comes first; everything else
    keeps registration order below the fold."""
    from big_data_analytics_spark.queries import (  # noqa: F401
        text,
        similarity,
        ecommerce_shaped,
        dedup_queries,
        temporal,
        sampling,
        sketches,
        scalar_funcs,
        relational,
        windows,
        tpch_extra,
        timeseries_queries,
        quality,
        reshape,
        funnels,
        cleaning,
        fuzzy,
        cdc,
        graph_queries,
        robust,
        multimodal_queries,
        zorder_queries,
        mixing,
        skew_queries,
        corpus_queries,
        bloom_queries,
        clustering_queries,
        streaming_queries,
        market,
        stats_ext,
        layout,
        udf_queries,
        ml_queries,
        retrieval,
        semantic_dedup,
        ml_prep,
        normalize,
        monitoring,
        ann_eval,
        evals,
        governance,
    )
    missing = [n for n in GRADE_HEAD if n not in REGISTRY]
    if missing:
        raise KeyError(f"GRADE_HEAD names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in GRADE_HEAD}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    return ordered
