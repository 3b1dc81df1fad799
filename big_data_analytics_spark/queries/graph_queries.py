"""Graph analytics over relational data: PageRank / label propagation
/ triangles on the part co-purchase graph.

Parts that appear in the same order are linked; PageRank over that
graph surfaces "hub" parts the way it surfaces hub pages — a classic
iterative-dataflow workload the reference's pandas surface cannot
express at scale. The operators (operators/graph.py pagerank /
label_propagation) run integer micro-unit / integer-label arithmetic
so the fixed-point result is bit-identical across engines, which lets
*iterative* algorithms be hash-verified against unrolled-CTE DuckDB
oracles — rare for graph workloads, where floating-point drift
usually forces tolerance checks.

All four queries derive from ONE co-purchase edge relation, built
once per (session, sf_dir) and localCheckpoint-cached
(:func:`_weighted_edges`): the weighted (src, dst, w) table, whose
projection is the distinct edge set and whose filtered projection is
gr2's bounded subgraph. The edge build (~40% of gr1's cold cost) is
paid once, not four times; at 100 TB the same relation is the thing
you'd persist to Parquet bucketed by src.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.operators.joins import sized_side
from big_data_analytics_spark.operators.graph import (
    label_propagation,
    pagerank,
)
from big_data_analytics_spark.queries import query
from big_data_analytics_spark.caching import session_memo

_ITER = 5
_TOPK = 20


def _oracle() -> str:
    body = """
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), deg AS (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), edeg AS (
        SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)
    ), nodes AS (
        SELECT src AS node FROM edges
        UNION SELECT dst AS node FROM edges
    ), r0 AS (
        SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
    )"""
    prev = "r0"
    for i in range(1, _ITER + 1):
        body += f""", r{i} AS (
        SELECT nodes.node,
               CAST(150000 + ((85 * COALESCE(inf.inflow, 0)) // 100)
                    AS BIGINT) AS rank
        FROM nodes LEFT JOIN (
            SELECT e.dst AS node, SUM(r.rank // e.outdeg) AS inflow
            FROM edeg e JOIN {prev} r ON e.src = r.node
            GROUP BY e.dst
        ) inf USING (node)
    )"""
        prev = f"r{i}"
    body += f"""
    SELECT node AS l_partkey, rank AS rank_micro
    FROM {prev}
    ORDER BY rank DESC, node ASC
    LIMIT {_TOPK}
    """
    return body


def _build_weighted_edges(li: DataFrame) -> DataFrame:
    """Directed co-purchase edges with pair-multiplicity weights:
    one groupBy on the order key collecting the per-order part *list*
    (duplicates kept), pair expansion as two CHAINED explodes (each a
    codegen Generate; a nested transform×transform array build is
    interpreted per element — measured 25% slower warm and 2.7×
    slower cold on this build), then one (src, dst) count. The
    expansion is quadratic only in the per-order line count, bounded
    by order size. w(u,v) = Σ_orders cnt_u·cnt_v — exactly the
    row-pair count a lineitem self-join would produce, for one
    shuffle of lineitem instead of two. At 100 TB bucket lineitem by
    l_orderkey and the groupBy is exchange-free."""
    parts = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("ps"))
    return (
        parts.select("ps", F.explode("ps").alias("src"))
        .select("src", F.explode("ps").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Distinct directed co-purchase edges — the weighted build minus
    its weight column (the groupBy already made (src, dst) unique).
    Lazy, uncached: the graded queries go through the session-cached
    :func:`_weighted_edges` instead; this form exists for plan
    inspection (tests/test_plans.py) and ad-hoc composition."""
    return _build_weighted_edges(li).select("src", "dst")


#: Pre-flight cost model for the edge build (VERDICT r14 task 4).
#: Measured datapoints behind the constants (SCALE.md, 100x rung):
#: 240M pair expansions die on the default 8g local heap with a bare
#: JVM exit (GCLocker retry pathology), complete cleanly at 32g; 72M
#: pairs (30x) complete on 8g. 48 bytes per pair row against a 60%
#: usable-heap fraction puts the 8g refusal boundary at ~100M pairs —
#: between the measured survive/die points, with margin on both
#: sides. Deliberately conservative-but-simple: the pre-flight's job
#: is an ACTIONABLE error naming the knob, not a byte-exact planner.
_PAIR_BYTES = 48
_HEAP_USABLE = 0.6


#: Coarse-screen multiplier: the exact pair count is n_li *
#: (E[n^2]/E[n] - 1) over order sizes n; TPC-H-shaped data has
#: E[n^2]/E[n] ~ 5 (uniform 1..7), and 17 covers heavy skew with a
#: 3x margin. Below the screen the expansion cannot approach the
#: budget under ANY per-order distribution this side of pathological,
#: so the exact aggregation (one lineitem exchange, ~0.7 s at sf0.1
#: — 18% of gr1's cold cost if paid every session) is skipped and
#: the pre-flight is one cheap 0-column count.
_SCREEN_FACTOR = 16


def _edge_build_preflight(spark: SparkSession, li: DataFrame,
                          heap_bytes: int | None = None) -> int:
    """Guard the co-purchase edge build against silent heap death
    (the r14 100x finding: GCLocker retry warning, then a bare JVM
    exit, no Python traceback). Two tiers: a coarse row-count screen
    (n_li * _SCREEN_FACTOR * _PAIR_BYTES far below budget -> pass,
    ~free — the graded fixtures land here, so bench numbers carry no
    pre-flight tax), else the EXACT pair expansion — pairs = sum
    over orders of n*(n-1), one map-side-combined order-size count,
    ~0.5% of the build it guards at 100x — against the heap budget.
    ``heap_bytes`` overrides the Runtime.maxMemory() reading so
    tests can exercise the refusal without relaunching a capped JVM.
    Returns the pair count (-1 when the screen passed without the
    exact count being computed)."""
    if heap_bytes is None:
        heap_bytes = int(spark.sparkContext._jvm.java.lang.Runtime
                         .getRuntime().maxMemory())
    budget = int(heap_bytes * _HEAP_USABLE)
    n_li = li.count()
    if n_li * _SCREEN_FACTOR * _PAIR_BYTES <= budget:
        return -1
    pairs = (li.groupBy("l_orderkey").agg(F.count("*").alias("n"))
             .agg(F.sum(F.col("n") * (F.col("n") - 1)).alias("p"))
             .first()["p"]) or 0
    need = pairs * _PAIR_BYTES
    if need > budget:
        raise RuntimeError(
            f"co-purchase edge build needs ~{need / 1e9:.1f} GB for "
            f"{pairs:,} pair expansions but the local JVM heap "
            f"budget is ~{budget / 1e9:.1f} GB — the build would die "
            f"with a silent JVM exit (GCLocker pathology), not an "
            f"exception. Relaunch with SPARK_GRAFT_DRIVER_MEM="
            f"{max(8, int(need * 2 / 1e9) + 1)}g or more — this is a "
            f"LOWER bound covering the edge build only; downstream "
            f"per-node adjacency state (gr7-class) measured ~2x above "
            f"it at 100x. In local mode the driver heap IS the "
            f"executor pool; on a cluster size executor memory "
            f"instead and bucket lineitem by l_orderkey.")
    return pairs


#: The memoized edge relation is shared by gr1/lp1/gr2/gr3: one
#: localCheckpoint'd build instead of four.
@session_memo
def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    _edge_build_preflight(spark, li)
    return _build_weighted_edges(li).localCheckpoint()


@session_memo
def _edges_by_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """src-hash-partitioned copy of the distinct edge set: the
    in-session realization of "pre-bucket the edges by src" that
    gr4/gr10's docstrings prescribe for 100 TB — .persist() (NOT
    localCheckpoint: a checkpoint scan forgets its partitioning) so
    every per-hop frontier join reuses the edge side's
    HashPartitioning and only the bounded frontier shuffles."""
    e = _weighted_edges(spark, sf_dir).select("src", "dst")
    n_edges = _graph_inputs(spark, sf_dir, weighted=False)[1]["n_edges"]
    para = spark.sparkContext.defaultParallelism
    n_parts = int(max(para, n_edges * 16 // (64 << 20) + 1))
    df = e.repartition(n_parts, "src").persist()
    df.count()  # materialize so hop timings measure hops
    return df


@session_memo
def _graph_inputs(spark: SparkSession, sf_dir: str,
                  weighted: bool) -> tuple[DataFrame, dict]:
    """(node_info, stats) for the session edge relation: node_info is
    the localCheckpoint'd (node, wsum) table built by the SAME
    operators.graph.build_node_info the operator would run internally;
    stats carries {'n_edges', 'n_nodes', 'min_node', 'max_node'}. The
    graph is symmetric by construction (both directions of every
    co-purchase pair), so the node set equals the distinct src set —
    the contract label_propagation's ``nodes`` parameter requires."""
    from big_data_analytics_spark.operators.graph import build_node_info

    e = _weighted_edges(spark, sf_dir)
    if not weighted:
        e = e.select("src", "dst")
    ni = build_node_info(e, weighted).localCheckpoint()
    row = ni.agg(F.count(F.lit(1)).alias("n"),
                 F.min("node").alias("lo"),
                 F.max("node").alias("hi")).first()
    n_edges = e.count()  # cached-scan job
    stats = {"n_edges": int(n_edges), "n_nodes": int(row["n"]),
             "min_node": int(row["lo"] or 0),
             "max_node": int(row["hi"] or 0)}
    return ni, stats


@session_memo
def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA community labels, computed once so every consumer (gr6
    modularity today) pays only its marginal cost. lp1 itself does
    NOT read this memo — its graded/benched number must measure the
    LPA rounds, not a checkpoint scan."""
    edges = _weighted_edges(spark, sf_dir).select("src", "dst")
    ni, st = _graph_inputs(spark, sf_dir, weighted=False)
    return label_propagation(
        edges, iterations=_LPA_ITER, assume_distinct=True,
        nodes=ni.select("node"),
        node_stats=(st["n_nodes"], st["min_node"], st["max_node"]),
        n_edges=st["n_edges"]).localCheckpoint()


def _sized_side(small: DataFrame, n_rows: int,
                broadcast_max_rows: int = 5_000_000) -> DataFrame:
    """Join-strategy pin for a MEASURED-small relation joined into an
    edge-sized one: broadcast when the measured row count allows, else
    force sort-merge. Never leave the choice to plan-time stats — a
    localCheckpoint scan's estimate misled the optimizer into
    broadcasting the 24M-row edge relation here (driver OOM at the
    10× probe step; gr4's frontier join was the same failure class).
    The pagerank/LPA ``broadcast_max_nodes`` rule, applied at the
    query layer. Round 10 promoted this repo-wide as
    operators.joins.sized_side; this wrapper keeps the graph-local
    name and its tests stable."""
    return sized_side(small, n_rows, broadcast_max_rows)


@query("gr1_part_pagerank", oracle=_oracle())
def gr1_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by PageRank over the co-purchase graph
    (5 fixed iterations, damping 0.85, integer micro-units —
    operators/graph.py:pagerank). Edges from the shared cached
    relation (_weighted_edges); the graph is symmetric, so no
    dangling-mass correction is needed.

    Scale: the auto strategy picks the broadcast path here (20k nodes
    vs 2.4M edges) — each iteration is ONE distributed aggregation
    over the size-partitioned edge relation with the rank table
    broadcast; for node sets beyond broadcast reach the operator
    falls back to the checkpointed shuffle-join path."""
    edges = _weighted_edges(spark, sf_dir).select("src", "dst")
    ni, st = _graph_inputs(spark, sf_dir, weighted=False)
    ranks = pagerank(edges, iterations=_ITER, assume_distinct=True,
                     node_info=ni, n_nodes=st["n_nodes"],
                     n_edges=st["n_edges"])
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(_TOPK)
        .select(F.col("node").alias("l_partkey"),
                F.col("rank").alias("rank_micro"))
    )


_LPA_ITER = 4


def _lpa_cte() -> tuple[str, str]:
    """The unrolled-LPA WITH body shared by lp1 and gr6: returns
    (cte_sql, final_label_table_name)."""
    body = """
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), l0 AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
    )"""
    prev = "l0"
    for i in range(1, _LPA_ITER + 1):
        body += f""", l{i} AS (
        SELECT node, label FROM (
            SELECT e.dst AS node, l.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.dst
                       ORDER BY COUNT(*) DESC, l.label ASC) AS rn
            FROM edges e JOIN {prev} l ON e.src = l.node
            GROUP BY e.dst, l.label
        ) WHERE rn = 1
    )"""
        prev = f"l{i}"
    return body, prev


def _lpa_oracle() -> str:
    body, prev = _lpa_cte()
    return body + f"""
    SELECT label AS community, COUNT(*) AS n_parts
    FROM {prev}
    GROUP BY label
    HAVING COUNT(*) >= 2
    """


@query("lp1_part_communities", oracle=_lpa_oracle())
def lp1_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (4 fixed iterations) over the
    part co-purchase graph via operators/graph.py:label_propagation;
    communities of size ≥ 2 with their member counts. The
    mode-of-neighbor-labels tie-break is (count DESC, label ASC) —
    engine-exact, hash-gradeable like gr1 (the oracle spells it as a
    window row_number; the operator computes the same pick as one max
    of a lexicographic (n, -label) struct).

    Scale: the operator's auto strategy — broadcast label table into
    the size-partitioned edge relation per round here (20k nodes),
    checkpointed shuffle-join fallback beyond broadcast_max_nodes.
    Labels are node ids (integers), so no per-iteration state beyond
    (node, label)."""
    edges = _weighted_edges(spark, sf_dir).select("src", "dst")
    ni, st = _graph_inputs(spark, sf_dir, weighted=False)
    labels = label_propagation(
        edges, iterations=_LPA_ITER, assume_distinct=True,
        nodes=ni.select("node"),
        node_stats=(st["n_nodes"], st["min_node"], st["max_node"]),
        n_edges=st["n_edges"])
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_parts"))
        .where(F.col("n_parts") >= 2)
    )


@query(
    "gr2_triangle_count",
    oracle="""
    WITH sub AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_partkey < 500 AND b.l_partkey < 500
    ), tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM sub e1
        JOIN sub e2 ON e2.u = e1.v
        JOIN sub e3 ON e3.u = e1.u AND e3.v = e2.v
    ), member AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT node, COUNT(*) AS n_triangles
    FROM member GROUP BY node
    ORDER BY n_triangles DESC, node ASC LIMIT 10
    """,
)
def gr2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 parts by triangle participation in the promo-part
    co-purchase subgraph (keys < 500). The subgraph is a filtered
    projection of the shared cached edge relation (src < dst gives the
    canonical u < v orientation for free). Triangles enumerate once
    via canonical ordering (u < v < w): wedge join on the middle node,
    closing join on the outer pair — the standard two-join triangle
    plan whose cost is the wedge count, Σ deg². That quadratic is why
    the query runs on a *bounded subgraph*: at corpus scale you first
    degree-cap or sample the graph (or count approximately via node
    sampling), never wedge-join a dense graph whole — the same
    bucket-cap reasoning as the LSH band joins."""
    w = _weighted_edges(spark, sf_dir)
    sub = (
        w.where((F.col("src") < F.col("dst"))
                & (F.col("src") < 500) & (F.col("dst") < 500))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    e1 = sub.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = sub.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = sub.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    member = (tri.select(F.col("x").alias("node"))
              .unionAll(tri.select(F.col("y").alias("node")))
              .unionAll(tri.select(F.col("z").alias("node"))))
    return (member.groupBy("node").agg(F.count("*").alias("n_triangles"))
            .orderBy(F.col("n_triangles").desc(), F.col("node").asc())
            .limit(10))


_WPR_ITER = 3


def _wpr_oracle() -> str:
    body = """
    WITH edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               COUNT(*) AS w
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ), outw AS (
        SELECT src, SUM(w) AS sw FROM edges GROUP BY src
    ), ew AS (
        SELECT e.src, e.dst, e.w, o.sw FROM edges e JOIN outw o USING (src)
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
    ), r0 AS (
        SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
    )"""
    prev = "r0"
    for i in range(1, _WPR_ITER + 1):
        body += f""", r{i} AS (
        SELECT nodes.node,
               CAST(150000 + ((85 * COALESCE(inf.inflow, 0)) // 100)
                    AS BIGINT) AS rank
        FROM nodes LEFT JOIN (
            SELECT e.dst AS node, SUM((r.rank * e.w) // e.sw) AS inflow
            FROM ew e JOIN {prev} r ON e.src = r.node
            GROUP BY e.dst
        ) inf USING (node)
    )"""
        prev = f"r{i}"
    body += f"""
    SELECT node AS l_partkey, rank AS rank_micro
    FROM {prev}
    ORDER BY rank DESC, node ASC
    LIMIT 20
    """
    return body


@query("gr3_weighted_pagerank", oracle=_wpr_oracle())
def gr3_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: rank mass flows proportionally to
    co-purchase *frequency* — flow(u→v) = (rank(u)·w(u,v)) div
    Σw(u,·), the natural strength-aware variant (an edge seen in 50
    orders carries 50× the mass of a one-off). Same integer
    fixed-point discipline as gr1, so the weighted recursion is still
    hash-gradeable; weights and weight-sums are exact counts.

    Runs through operators/graph.py:pagerank(weight="w") — the same
    auto broadcast/shuffle strategy as gr1 (node-count guard, sized
    edge partitions, no unconditional coalesce(1)); weights live on
    the edge relation, the weight sum rides the broadcast rank table,
    one distributed aggregation per iteration. The graph is symmetric
    (src set == dst set), so the operator's src∪dst node set equals
    the oracle's distinct-src set."""
    edges = _weighted_edges(spark, sf_dir)
    ni, st = _graph_inputs(spark, sf_dir, weighted=True)
    ranks = pagerank(edges, weight="w", iterations=_WPR_ITER,
                     assume_distinct=True, node_info=ni,
                     n_nodes=st["n_nodes"], n_edges=st["n_edges"])
    return (ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
            .limit(20)
            .select(F.col("node").alias("l_partkey"),
                    F.col("rank").alias("rank_micro")))


def _bfs_oracle() -> str:
    return """
    WITH RECURSIVE edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), seed AS (
        SELECT DISTINCT src AS node FROM edges WHERE src < 10
    ), reach(node, hops) AS (
        SELECT node, 0 FROM seed
        UNION
        SELECT e.dst, r.hops + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hops < 3
    )
    SELECT node AS l_partkey, MIN(hops) AS hops
    FROM reach GROUP BY node
    """


def _bfs_hop(edges: DataFrame, frontier: DataFrame, known: DataFrame,
             h: int) -> DataFrame:
    """One semi-naive BFS hop, LAZY (caller checkpoints): frontier
    expands through a shuffled-hash join that builds the bounded
    frontier side — never a stats-driven broadcast of the growing
    edge relation (plan-guarded in tests/test_plans.py)."""
    return (edges.join(frontier.withColumnRenamed("node", "src")
                       .hint("SHUFFLE_HASH"), "src")
            .select(F.col("dst").alias("node")).distinct()
            .join(known.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("hops")))


@query("gr4_bfs_hops", oracle=_bfs_oracle())
def gr4_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (≤ 3) from a seed part set over the
    co-purchase graph — frontier-expansion BFS, the traversal
    primitive under "related products within k steps" and
    neighborhood-sampling features.

    Scale: semi-naive evaluation — each hop joins ONLY the newly
    discovered frontier against the shared session-cached edge
    relation (never the accumulated set), anti-joins out known nodes,
    and checkpoints the per-hop result so lineage stays flat. State
    per hop is one hash join + distinct, all keyed on node. The
    oracle is DuckDB's recursive CTE over the same edges (UNION
    dedup = the same semi-naive frontier).

    The frontier join is PINNED to a shuffled hash join building the
    frontier side. Left to statistics, Catalyst broadcast the EDGE
    relation here — the checkpoint's propagated size estimate slid
    under the 64 MB threshold while the real relation was 57 MB at
    sf0.1 (one broadcast build per hop) and 570 MB at 10x edges,
    which killed the driver ("Not enough memory to build and
    broadcast"). An edge-relation broadcast is the growing-broadcast
    hazard class: |edges| grows with the data, the frontier does not
    (bounded by the reachable-node set; its per-partition hash build
    is |frontier|/n_parts). Measured: 3.52 -> 1.65 s warm at sf0.1,
    and the 10x run completes in 3.6 s where the stats-driven plan
    OOM'd (SCALE.md round-8 audit). The edge side is the session's
    src-hash-partitioned cached copy (r15, :func:`_edges_by_src` —
    the in-session "pre-bucket by src"), so each hop's join reuses
    its partitioning and ONLY the frontier shuffles (plan-guarded:
    tests/test_plans.py::test_gr4_frontier_join_is_shuffled_hash now
    also pins the exchange-free edge side)."""
    edges = _edges_by_src(spark, sf_dir)
    seed = (edges.select(F.col("src").alias("node")).distinct()
            .filter(F.col("node") < 10))
    known = seed.select("node", F.lit(0).alias("hops")).localCheckpoint()
    frontier = known.select("node")
    for h in range(1, 4):
        nxt = _bfs_hop(edges, frontier, known, h).localCheckpoint()
        known = known.unionByName(nxt)
        frontier = nxt.select("node")
    return known.select(F.col("node").alias("l_partkey"), "hops")


_LP_CAP = 50
_AA_Q = 1_000_000_000

#: Largest node id for which the (a, b) pair packs into one int64
#: (a*(id+1)+b needs (id+1)^2 < 2^63): isqrt(2^63) - 1. Above it gr5
#: falls back to the two-column pair key — same semantics, bigger
#: shuffle rows (tests monkeypatch this to force the fallback).
_PACK_MAX_KEY = 3_037_000_498


def _linkpred_oracle() -> str:
    return f"""
    WITH edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               COUNT(*) AS w
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ), cap AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                       ORDER BY w DESC, dst) AS rn
            FROM edges) WHERE rn <= {_LP_CAP}
    ), deg AS (SELECT src AS z, COUNT(*) AS deg FROM cap GROUP BY 1),
    paths AS (
        SELECT x.src AS z, x.dst AS a, y.dst AS b
        FROM cap x JOIN cap y
          ON x.src = y.src AND x.dst < y.dst
    ), scored AS (
        SELECT a, b,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               CAST(SUM(CAST(FLOOR({_AA_Q} / ln(CAST(deg AS DOUBLE)))
                        AS BIGINT)) AS BIGINT) AS aa_q
        FROM paths JOIN deg USING (z) GROUP BY a, b
    )
    SELECT a AS part_a, b AS part_b, common_neighbors, aa_q
    FROM scored
    WHERE NOT EXISTS (SELECT 1 FROM edges e
                      WHERE e.src = scored.a AND e.dst = scored.b)
    ORDER BY common_neighbors DESC, aa_q DESC, a, b
    LIMIT {_TOPK}
    """


@query("gr5_link_prediction", oracle=_linkpred_oracle())
def gr5_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph: the top-{K}
    NON-adjacent part pairs by common-neighbor count, with a
    quantized Adamic-Adar score (sum over shared neighbors z of
    floor(1e9 / ln(deg(z))) — down-weights promiscuous hubs; the
    floor-quantized per-z term is a pure function of deg(z) computed
    by identical IEEE ops in both engines, so the iterative-free
    graph score is hash-gradeable like the rest of the gr family).
    This is the "customers who bought these together also bought"
    recommender primitive, complementary to cf1 (cosine over
    co-occurrence weights): cf1 ranks EXISTING co-occurrence, link
    prediction ranks pairs with NO edge yet.

    Scale shape: per-node top-{C} neighbor cap IN THE SEMANTICS
    (cf1's move — bounds 2-path fan-out to C(cap,2) per node
    regardless of hub degree). Round-6 rewrite of the pair stage: the
    capped adjacency is collected to a per-node sorted neighbor array
    IN PLACE (the cap window already hash-partitioned by src, so the
    collect_list aggregate needs no exchange), the per-z Adamic-Adar
    term is a pure expression of size(nbrs) (the self-join AND the
    deg_aa broadcast join are both gone), and the a<b 2-paths come
    from one generator over the i<j array combinations — emitting
    exactly C(d,2) rows instead of the join's d^2-then-filter. The
    existing-edge anti-join is a SHUFFLE_HASH join on (a, b): the
    scored side arrives hash-partitioned on (a, b) by the pair
    stage's volume-sized repartition (aggregate and join reuse that
    one exchange), only the edge relation
    shuffles, and the per-partition hash build replaces an
    O(|edges|) broadcast — |edges| grows with the data, so
    broadcasting it is a scale-killer the hint removes (measured:
    7.4 -> 3.9 s at sf0.1). The pair-stage partition count tracks the
    pair-volume upper bound (n_edges * (cap-1)/2 rows, ~64 MB each,
    floor defaultParallelism) so the un-spillable SHUFFLE_HASH build
    maps and the aggregate state stay bounded as edges grow: at the
    session's fixed 32 partitions the 10x-edge probe OOM'd building
    the join map; volume-sized it runs in 46 s (SCALE.md round-8
    x100 curve). Remaining exchanges: the sized (a,b) pair exchange,
    the edge-side shuffle, TakeOrderedAndProject.
    Shares the session-cached edge relation with gr1-gr4 (one build
    per session)."""
    from pyspark.sql import Window

    e = _weighted_edges(spark, sf_dir)
    wn = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    cap = (e.withColumn("rn", F.row_number().over(wn))
           .filter(F.col("rn") <= _LP_CAP)
           .select("src", "dst"))
    # nbrs arrays are bounded by the cap (<= _LP_CAP elements), so the
    # O(d^2) combination expansion is a constant-bounded per-row cost
    nbr = cap.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs"))
    nbr = nbr.select(
        # per-z AA term: pure function of capped degree — no join
        F.floor(_AA_Q / F.log(F.size("nbrs").cast("double")))
        .cast("long").alias("aa_t"), "nbrs")
    # i<j pair expansion as two CHAINED explodes — each a codegen
    # Generate — instead of one interpreted nested
    # transform×transform×struct array build (higher-order lambdas are
    # CodegenFallback, evaluated per element on the heap). Same move
    # as _build_weighted_edges, same reason; r15 A/B on the pair
    # stage: 108 s of executor CPU for the interpreted generator vs
    # 23 s chained (this box, sf0.1 — OPTIMIZATION_r15.md).
    p2 = (nbr.select("aa_t", "nbrs", F.posexplode("nbrs").alias("i", "a"))
          .select("aa_t", "a",
                  F.explode(F.expr(
                      "slice(nbrs, i + 2, size(nbrs) - i - 1)"))
                  .alias("b")))
    # The pair stream is up to n_edges * (cap-1)/2 rows; at the session
    # default of cores-many shuffle partitions the pair aggregate AND
    # the anti-join's per-partition edge hash maps stop fitting memory
    # once edges grow ~10x (measured: SparkOutOfMemoryError building
    # the SHUFFLE_HASH map at 24M edges / 32 partitions — the build map
    # cannot spill). Volume-sized repartitioning bounds both: partition
    # count tracks the pair-volume upper bound (~64 MB each, the graph-
    # operator policy), and the join reuses the exchange, so per-map
    # build rows stay ~n_edges/n_parts regardless of scale. At sf0.1
    # this degenerates to defaultParallelism — the plan is unchanged
    # where it already fit (A/B: 3.92 vs 3.89 s; at 10x edges: 46 s vs
    # OOM). n_edges and the max node id come from the session stats
    # cache (one aggregate per session, shared with gr1/gr3/lp1).
    _ni, st = _graph_inputs(spark, sf_dir, weighted=False)
    n_edges, max_key = st["n_edges"], st["max_node"]
    # Pack the (a, b) pair into ONE long while the measured key bound
    # allows (a*(mx+1)+b is injective and order-preserving; needs
    # 0 <= keys and (mx+1)^2 < 2^63, i.e. keys below ~3e9): halves the
    # shuffled pair row (16 vs 24 bytes) and makes the aggregate/
    # anti-join hash a single-long key. Past the bound (or with any
    # negative id, which would break injectivity/order — r15 ADVICE,
    # the same lo >= 0 guard LPA's pack path carries) the unpacked
    # two-column path is used — identical semantics, measured-bound-
    # guarded like every sized_side pin.
    packed = st["min_node"] >= 0 and max_key <= _PACK_MAX_KEY
    pair_bytes = n_edges * ((_LP_CAP - 1) // 2) * (16 if packed else 24)
    n_parts = int(max(spark.sparkContext.defaultParallelism,
                      min(pair_bytes // (64 << 20) + 1, 4096)))
    if packed:
        kspan = F.lit(max_key + 1).cast("long")
        pairs = p2.select(
            "aa_t", (F.col("a") * kspan + F.col("b")).alias("ab"))
        edge_keys = e.select(
            (F.col("src") * kspan + F.col("dst")).alias("ab"))
        scored = (pairs.repartition(n_parts, "ab")
                  .groupBy("ab")
                  .agg(F.count(F.lit(1)).cast("long")
                       .alias("common_neighbors"),
                       F.sum("aa_t").cast("long").alias("aa_q")))
        pred = scored.join(edge_keys.hint("SHUFFLE_HASH"),
                           ["ab"], "left_anti")
        # ab order == (a, b) lexicographic order (both non-negative,
        # b <= mx < span), so the top-k sort key is unchanged
        return (pred.orderBy(F.desc("common_neighbors"), F.desc("aa_q"),
                             "ab")
                .limit(_TOPK)
                # integer div/mod — a double division would lose
                # precision above 2^53
                .select(F.expr(f"ab div {max_key + 1}L").cast("long")
                        .alias("part_a"),
                        F.expr(f"ab % {max_key + 1}L").cast("long")
                        .alias("part_b"),
                        "common_neighbors", "aa_q"))
    scored = (p2.repartition(n_parts, "a", "b")
              .groupBy("a", "b")
              .agg(F.count(F.lit(1)).cast("long")
                   .alias("common_neighbors"),
                   F.sum("aa_t").cast("long").alias("aa_q")))
    pred = scored.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .hint("SHUFFLE_HASH"),
        ["a", "b"], "left_anti")
    return (pred.orderBy(F.desc("common_neighbors"), F.desc("aa_q"),
                         "a", "b")
            .limit(_TOPK)
            .select(F.col("a").alias("part_a"),
                    F.col("b").alias("part_b"),
                    "common_neighbors", "aa_q"))


gr5_link_prediction.__doc__ = gr5_link_prediction.__doc__.format(
    K=_TOPK, C=_LP_CAP)


def _modularity_oracle() -> str:
    body, prev = _lpa_cte()
    return body + f""", labs AS (
        SELECT node, label FROM {prev}
    ), m AS (
        SELECT COUNT(*) AS m2 FROM edges
    ), sz AS (
        SELECT label AS community, COUNT(*) AS n_nodes
        FROM labs GROUP BY 1
    ), deg AS (
        SELECT l.label AS community, COUNT(*) AS k_c
        FROM edges e JOIN labs l ON e.src = l.node GROUP BY 1
    ), win AS (
        SELECT a.label AS community, COUNT(*) AS e_within
        FROM edges e
        JOIN labs a ON e.src = a.node
        JOIN labs b ON e.dst = b.node
        WHERE a.label = b.label GROUP BY 1
    )
    SELECT s.community,
           s.n_nodes,
           COALESCE(w.e_within, 0) AS e_within,
           d.k_c,
           ((1000000 * COALESCE(w.e_within, 0)) // m.m2)
             - (((1000000 * d.k_c) // m.m2)
                * ((1000000 * d.k_c) // m.m2)) // 1000000
             AS q_contrib_micro
    FROM sz s
    JOIN deg d ON s.community = d.community
    LEFT JOIN win w ON s.community = w.community
    CROSS JOIN m
    WHERE s.n_nodes >= 2
    """


@query("gr6_modularity", oracle=_modularity_oracle())
def gr6_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of lp1's LPA communities, per community —
    the quality metric that says whether a partition is better than
    random for the same degree sequence: Q = Σ_c [ e_c/m − (K_c/m)² ]
    over directed edge count m, within-community directed edges e_c,
    and community degree sum K_c. Emitted per community (size ≥ 2, the
    lp1 convention) in MICRO-UNITS with the same integer discipline as
    pagerank: every fraction is a non-negative int64 floor-division
    ((1e6·e_c) div m, then squaring the already-quantized degree
    fraction and dividing by 1e6), so the result is bit-identical on
    any engine and any partitioning, never a parallel double sum. The
    quantization error is < 3e-6 per community — far below any
    decision-relevant difference in a metric read at 1e-2 granularity.

    Scale: the label relation comes from the session label cache
    (:func:`_lpa_labels` — LPA runs ONCE per (session, sf_dir), the
    _weighted_edges precedent: at 100 TB communities are a derived
    relation you persist, and every consumer pays only its own
    marginal cost). Label attachments are strategy-pinned from the
    MEASURED node count (:func:`_sized_side` — broadcast under 5M
    nodes, forced sort-merge past it): leaving the choice to
    plan-time stats let the optimizer broadcast the 24M-row EDGE
    relation instead (driver OOM at the 10× probe; gr4's exact
    failure class — a localCheckpoint scan's size estimate is not
    evidence). Everything after is mergeable aggregation on community
    keys, and the edge total rides as a broadcast 1-row aggregate —
    no driver scalar, no window."""
    edges = _weighted_edges(spark, sf_dir).select("src", "dst")
    labels = _lpa_labels(spark, sf_dir)
    n_nodes = labels.count()  # cheap: labels is checkpoint-materialized
    src_lab = _sized_side(
        labels.select(F.col("node").alias("src"),
                      F.col("label").alias("src_label")), n_nodes)
    dst_lab = _sized_side(
        labels.select(F.col("node").alias("dst"),
                      F.col("label").alias("dst_label")), n_nodes)
    within = (edges
              .join(src_lab, "src")
              .join(dst_lab, "dst")
              .filter(F.col("src_label") == F.col("dst_label"))
              .groupBy(F.col("src_label").alias("community"))
              .agg(F.count(F.lit(1)).cast("long").alias("e_within")))
    deg = (edges
           .join(src_lab, "src")
           .groupBy(F.col("src_label").alias("community"))
           .agg(F.count(F.lit(1)).cast("long").alias("k_c")))
    sz = (labels.groupBy(F.col("label").alias("community"))
          .agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
    m2 = edges.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    return (sz.filter(F.col("n_nodes") >= 2)
            .join(deg, "community")
            .join(within, "community", "left")
            .withColumn("e_within",
                        F.coalesce(F.col("e_within"), F.lit(0).cast("long")))
            .crossJoin(F.broadcast(m2))
            .select(
                "community", "n_nodes", "e_within", "k_c",
                (F.expr("(1000000L * e_within) div m2")
                 - F.expr("(((1000000L * k_c) div m2) * "
                          "((1000000L * k_c) div m2)) div 1000000L"))
                .cast("long").alias("q_contrib_micro")))


_TRI_Q = 2_000_000  # 2·1e6: clustering coefficient micro-units


def _triangle_oracle() -> str:
    return f"""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), und AS (
        SELECT src AS u, dst AS v FROM edges WHERE src < dst
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM und UNION ALL SELECT v FROM und
        ) GROUP BY node
    ), ori AS (
        SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS a,
               CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS b
        FROM und
        JOIN deg du ON du.node = u
        JOIN deg dv ON dv.node = v
    ), tri AS (
        -- each triangle exactly once as (x, y, z) with x->y, x->z,
        -- y->z in the DAG orientation: x is the unique corner with
        -- two out-edges, and the third edge fixes (y, z) order. An
        -- id-ordered wedge filter here would be WRONG: the closing
        -- edge is oriented by (degree, id), so requiring y < z by id
        -- silently drops every triangle whose third edge runs from
        -- the id-larger corner (~half; caught by the ground-truth
        -- id-canonical enumeration in tests/test_graph.py).
        SELECT o1.a AS x, o1.b AS y, o2.b AS z
        FROM ori o1
        JOIN ori o2 ON o2.a = o1.a AND o2.b <> o1.b
        JOIN ori o3 ON o3.a = o1.b AND o3.b = o2.b
    )
    SELECT node, d AS degree,
           CAST(COALESCE(t.n, 0) AS BIGINT) AS n_triangles,
           CAST(({_TRI_Q} * COALESCE(t.n, 0)) // (d * (d - 1)) AS BIGINT)
               AS clustering_micro
    FROM deg LEFT JOIN (
        SELECT node, COUNT(*) AS n FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    ) t USING (node)
    WHERE d >= 2
    """


@query("gr7_triangle_counts", oracle=_triangle_oracle())
def gr7_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    the undirected co-purchase graph — the density statistic behind
    community strength, spam-graph detection, and gr5's
    common-neighbor features. Enumeration is DEGREE-ORIENTED (each
    undirected edge directed from its (degree, id)-smaller endpoint):
    the orientation is acyclic from a total order, so every triangle
    has exactly one node with out-edges to the other two and is
    counted exactly once on the edge (a→b) whose source has oriented
    edges to BOTH other corners. Out-degrees under this orientation
    are O(√m) (the Cohen MapReduce-triangles bound) — never deg² on
    hub nodes. This is the full-graph answer to gr2's documented
    limitation (gr2 id-orders and therefore only runs on a bounded
    subgraph; its docstring says "never wedge-join a dense graph
    whole" — degree orientation is how you do run the whole graph at
    100 TB). Clustering coefficient ships as the usual non-negative
    integer floor division (2e6·T_v) div (d_v·(d_v−1)) — micro-units,
    bit-identical on any engine/partitioning.

    Plan shape — ADJACENCY INTERSECTION, not a wedge join: collect
    each source's out-neighbor array (orientation bounds it at O(√m)
    entries), attach both endpoints' arrays to every oriented edge,
    and emit array_intersect(adj_a, adj_b) — the third corners of
    every triangle on that edge — inside codegen. The naive wedge
    self-join materializes Σ C(od,2) candidate rows across an
    exchange (41M rows at sf0.1 — measured 9.8 s warm / 110 s at the
    10× step); here the same Σ od² work happens JVM-side per edge and
    only actual triangles ever leave the operator (measured A/B
    through tools/scale_probe: 1.81 s warm at sf0.1, 11.1 s at 10× —
    5.4× / 9.9× faster, ×6.1/decade; the wedge variant ALSO
    undercounted — see the oracle comment). Exchanges: the adjacency
    collect (edge-sized), the two
    array attachments (edge-keyed joins against the source-keyed
    adjacency relation), and the per-node rollup — nothing
    proportional to the wedge count crosses a shuffle; per-row memory
    is two O(√m) arrays.

    Every node- or edge-sized attachment is strategy-pinned from a
    MEASURED count (:func:`_sized_side`, gr6's rule): the two degree
    attachments from the node count, and the two adjacency
    attachments from the UNDIRECTED EDGE count — adj has one row per
    source node but its array payload totals exactly |und| entries,
    so broadcasting it is broadcasting the whole oriented edge set;
    rows alone would understate its weight by the mean degree. Past
    either ceiling the joins fall back to sort-merge
    (plan-guarded: tests/test_graph.py::
    test_gr7_attachment_strategy_is_measured)."""
    und = (_weighted_edges(spark, sf_dir)
           .filter(F.col("src") < F.col("dst"))
           .select(F.col("src").alias("u"), F.col("dst").alias("v")))
    n_edges = und.count()  # one scan of the checkpointed edge cache
    # node-sized; checkpoint so du/dv/final-join reuse one computation
    # and the n_nodes measurement is a materialized-scan count
    deg = (und.select(F.col("u").alias("node"))
           .unionAll(und.select(F.col("v").alias("node")))
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("long").alias("d"))
           .localCheckpoint())
    n_nodes = deg.count()
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    u_first = ((F.col("du") < F.col("dv"))
               | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))))
    ori = (und.join(_sized_side(du, n_nodes), "u")
           .join(_sized_side(dv, n_nodes), "v")
           .select(F.when(u_first, F.col("u")).otherwise(F.col("v"))
                   .alias("a"),
                   F.when(u_first, F.col("v")).otherwise(F.col("u"))
                   .alias("b")))
    adj = (ori.groupBy("a")
           .agg(F.collect_list("b").alias("nbrs")))
    tri_c = (ori
             .join(_sized_side(adj, n_edges), "a")
             .join(_sized_side(adj.select(F.col("a").alias("b"),
                                          F.col("nbrs").alias("nbrs_b")),
                               n_edges), "b")
             .select("a", "b",
                     F.explode(F.array_intersect("nbrs", "nbrs_b"))
                     .alias("c")))
    # one corner-explode, ONE reference to tri_c — a 3-way unionAll of
    # projections would re-execute the whole intersection subtree per
    # branch (only its exchanges get reused)
    per_node = (tri_c
                .select(F.explode(F.array("a", "b", "c")).alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).cast("long").alias("n")))
    return (deg.filter(F.col("d") >= 2)
            .join(per_node, "node", "left")
            .select("node", F.col("d").alias("degree"),
                    F.coalesce(F.col("n"), F.lit(0)).cast("long")
                    .alias("n_triangles"),
                    F.expr(f"CAST(({_TRI_Q} * COALESCE(n, 0)) div "
                           "(d * (d - 1)) AS BIGINT)")
                    .alias("clustering_micro")))


_KCORE_K = 3       # core order: keep nodes with degree >= 3
_KCORE_ROUNDS = 6  # bounded peel rounds (the LPA fixed-round convention)


def _kcore_oracle() -> str:
    """Unrolled 6-round 3-core peel (the _lpa_cte convention: bounded
    rounds make an iterative algorithm ANSI-SQL-expressible and
    engine-deterministic). Every round CTE is MATERIALIZED: each
    round references its predecessor three times, so inlined CTEs
    expand 3^6-fold (DuckDB ran out of file handles re-scanning
    lineitem hundreds of times)."""
    body = """
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), e0 AS MATERIALIZED (
        SELECT src AS u, dst AS v FROM edges WHERE src < dst
    )"""
    prev = "e0"
    for i in range(_KCORE_ROUNDS):
        body += f""", k{i} AS MATERIALIZED (
        SELECT node FROM (
            SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
        ) GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
    ), e{i + 1} AS MATERIALIZED (
        SELECT u, v FROM {prev}
        WHERE u IN (SELECT node FROM k{i})
          AND v IN (SELECT node FROM k{i})
    )"""
        prev = f"e{i + 1}"
    return body + f"""
    SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
    ) GROUP BY node
    """


@query("gr8_kcore", oracle=_kcore_oracle())
def gr8_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{K}-core of the co-purchase graph after {R} peel rounds — the
    degeneracy-based graph-curation statistic (spam/bot subgraphs and
    low-signal tails live OUTSIDE the core; recommendation and
    community pipelines run ON it). One round = drop every node with
    degree < {K}, restrict the edge set to survivors; the bounded
    round count is the LPA/lp1 convention that keeps an iterative
    algorithm oracle-expressible — on the graded fixtures {R} rounds
    reach the true fixed-point core (asserted against a peel-to-
    fixpoint pure-python recount, tests/test_graph.py), and the
    bounded semantics stay deterministic at any scale. Output:
    (node, degree within the round-{R} subgraph).

    Scale shape: the edge relation only SHRINKS (each round's output
    feeds the next — no growing state, no wedge/candidate blowup);
    per round one mergeable degree aggregation + two semi-join
    restrictions whose build side is the MEASURED-pinned survivor set
    (node-sized: broadcast under the 5M ceiling, sort-merge past it —
    the gr6/gr7 rule), and the survivor relation is checkpointed so
    round k+1's lineage doesn't replay rounds 0..k (the pagerank
    discipline). At 100 TB: log-ish rounds of linear passes — the
    standard distributed k-core schedule."""
    edges = (_weighted_edges(spark, sf_dir)
             .filter(F.col("src") < F.col("dst"))
             .select(F.col("src").alias("u"), F.col("dst").alias("v"))
             .localCheckpoint())
    n_edges = edges.count()
    for _ in range(_KCORE_ROUNDS):
        keep = (edges.select(F.col("u").alias("node"))
                .unionAll(edges.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= _KCORE_K)
                .select("node")
                .localCheckpoint())
        n_keep = keep.count()  # cheap: checkpoint-materialized
        edges = (edges
                 .join(_sized_side(keep.select(F.col("node").alias("u")),
                                   n_keep), "u", "left_semi")
                 .join(_sized_side(keep.select(F.col("node").alias("v")),
                                   n_keep), "v", "left_semi")
                 .localCheckpoint())
        # the restriction only REMOVES edges, so an unchanged count
        # means an identical set — a fixed point; the remaining rounds
        # are no-ops and skipping them cannot change the round-{R}
        # result (probe: 31.0 -> 8.2 s warm at 10x, 5.1 -> 1.7 s at
        # sf0.1 — the peel converges in ~2 rounds on these graphs)
        n_next = edges.count()
        if n_next == n_edges:
            break
        n_edges = n_next
    return (edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("core_degree")))


gr8_kcore.__doc__ = gr8_kcore.__doc__.format(K=_KCORE_K, R=_KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# gr9: star-contraction connected components over the event-chain graph
# ---------------------------------------------------------------------------
#
# The co-purchase graph is near-clique (diameter ~2) — exactly where
# min-label propagation is fine. The graph that BREAKS propagation is
# the long chain, and the fixture has a natural one: each user's
# events, linked consecutively in time order, form a path of up to
# ~99 hops (sf0.1). One-hop-per-round propagation needs ~diameter
# rounds (ConvergenceError at the default 20); alternating
# large-star/small-star contraction (operators/graph.py:
# connected_components_star, Kiveris et al. SoCC'14) converges in
# O(log² n) rounds regardless of diameter — the 100 TB-scale CC
# algorithm.
#
# ORACLE INDEPENDENCE (standing policy, queries/__init__.py): the
# oracle never builds a graph at all — by construction each user's
# chain is one component whose minimum node is the user's minimum
# event_id, so the oracle states the problem as a plain GROUP BY
# user_id. A bug anywhere in the edge build, the star rounds, or the
# final labeling cannot be mirrored by the oracle (the codec-query
# closed-form pattern). The operator itself additionally has a pure-
# python union-find reference on adversarial graphs
# (tests/test_graph.py).

_GR9_ORACLE = """
    SELECT CAST(MIN(event_id) AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) >= 2
"""


@query("gr9_event_chain_components", oracle=_GR9_ORACLE)
def gr9_event_chain_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the per-user event chain graph
    (consecutive events of a user in (ts, event_id) order are linked)
    via alternating large-star/small-star contraction — the
    session-stitching / identity-resolution shape, where edges arrive
    as pairwise links and components must be closed transitively over
    chains far longer than any fixed propagation budget. Output: one
    row per component, (component = min event_id, n_events = chain
    length); single-event users have no edges and are out of scope
    (the connected_components contract).

    Scale shape: the chain edge build is one per-user window pass
    (lead over (user_id; ts, event_id) — one shuffle of the events,
    no self-join); each star round is two node-sized min-aggregates
    joined back through the measured ``sized_side`` pin with
    checkpoint-truncated lineage, and the edge set SHRINKS as trees
    flatten (round 1 already folds every chain interior onto a local
    minimum). Round count is O(log² n) independent of chain length —
    the property that makes this the 100 TB CC algorithm while
    min-label propagation (operators/graph.py:connected_components)
    stays O(diameter). The final rollup partial-aggregates on the
    component label.

    Reference parity: none — the reference has no graph surface; this
    extends the gr* family with the dedup-clustering workhorse
    (cc1/cc2 run propagation because dup clusters are near-cliques;
    chains need this operator)."""
    from pyspark.sql import Window

    from big_data_analytics_spark.operators.graph import (
        connected_components_star,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (ev.withColumn("nxt", F.lead("event_id").over(w))
             .filter(F.col("nxt").isNotNull())
             .select(F.col("event_id").alias("id_a"),
                     F.col("nxt").alias("id_b")))
    comp = connected_components_star(edges)
    return (comp.groupBy("component")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events")))


_HC_Q = 1_000_000_000  # harmonic-contribution micro-grid
_HC_HOPS = 3           # bounded traversal horizon (the gr4 contract)


def _harmonic_oracle() -> str:
    return f"""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), seeds AS (
        SELECT DISTINCT src AS seed FROM edges WHERE src < 10
    ), reach(seed, node, hops) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION
        SELECT r.seed, e.dst, r.hops + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hops < {_HC_HOPS}
    ), dist AS (
        SELECT seed, node, MIN(hops) AS d
        FROM reach GROUP BY seed, node
    )
    SELECT node AS l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_seeds,
           CAST(SUM({_HC_Q} // d) AS BIGINT) AS harm_q
    FROM dist WHERE d >= 1
    GROUP BY node
    """


@query("gr10_harmonic_centrality", oracle=_harmonic_oracle())
def gr10_harmonic_centrality(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Harmonic centrality from a seed set over the co-purchase
    graph: harm(v) = sum over seeds s of 1/d(s, v) within a bounded
    {H}-hop horizon — the landmark-based centrality a recommender or
    curation pipeline actually computes at scale (exact closeness
    needs all-pairs distances; seeded harmonic with a hop cap is the
    standard approximation, and unreachable/far nodes contribute 0
    naturally instead of breaking the mean like closeness). Each
    contribution is the exact integer floor(Q / d) on the 1e-9 grid,
    so the sum is order-free and engine-exact; also emits how many
    seeds reach each node.

    Scale shape: multi-source semi-naive BFS — the frontier carries
    (seed, node) PAIRS (state <= |seeds| x |nodes|, |seeds| a
    constant 10 here / a sampled landmark set in production), each
    hop one shuffled-hash join against the session-cached edge
    relation with the frontier side built (the gr4 pin — plan-time
    stats once broadcast the growing edge relation), the known-set
    anti-join pinned via sized_side on the measured |seeds| x node
    count bound, and per-hop localCheckpoints keep lineage flat. The
    final rollup is one map-side-combinable aggregate on node. At
    100 TB: {H} bounded supersteps, each edge-partitioned — the gr4
    cost times the landmark count. The edge side rides the session's
    src-partitioned cache (r15, gr4's move), so per hop only the
    (seed, node) frontier shuffles."""
    edges = _edges_by_src(spark, sf_dir)
    n_nodes = _graph_inputs(spark, sf_dir, weighted=False)[1]["n_nodes"]
    seeds = (edges.select(F.col("src").alias("seed")).distinct()
             .filter(F.col("seed") < 10))
    known = seeds.select(
        "seed", F.col("seed").alias("node"),
        F.lit(0).alias("hops")).localCheckpoint()
    frontier = known.select("seed", "node")
    for h in range(1, _HC_HOPS + 1):
        nxt = (edges.join(
            frontier.withColumnRenamed("node", "src")
            .hint("SHUFFLE_HASH"), "src")
            .select("seed", F.col("dst").alias("node")).distinct()
            .join(_sized_side(known.select("seed", "node"),
                              10 * n_nodes),
                  ["seed", "node"], "left_anti")
            .select("seed", "node", F.lit(h).alias("hops"))
            .localCheckpoint())
        known = known.unionByName(nxt)
        frontier = nxt.select("seed", "node")
    return (known.filter(F.col("hops") >= 1)
            .groupBy(F.col("node").alias("l_partkey"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_seeds"),
                 F.sum(F.expr(f"{_HC_Q} div hops")).cast("long")
                 .alias("harm_q")))


gr10_harmonic_centrality.__doc__ = gr10_harmonic_centrality.__doc__.format(
    H=_HC_HOPS)
