"""Connected components over an edge list — the cluster step of
near-duplicate detection.

``lsh_dedup`` (operators/dedup.py) removes the non-minimal member of
every *pair*, which over-keeps on chains: A~B, B~C with A≁C keeps A
and C even though all three are one duplicate cluster. Connected
components closes the transitive chain so each cluster keeps exactly
one representative.

Algorithm: iterative min-label propagation. Each iteration is one
hash join + a min-aggregate, converging in O(graph diameter)
iterations — duplicate clusters are near-cliques (diameter ≤ 3), so
2-3 rounds in practice. (For adversarially long-chain graphs the
known upgrade is alternating large-star/small-star contraction,
Kiveris et al. "Connected Components in MapReduce and Beyond"
SoCC'14, which converges in O(log² n); not needed for dup graphs.)
Every iteration checkpoints the label table — truncating lineage so
the plan doesn't grow exponentially and executors don't recompute the
whole history each round. ``checkpoint="local"`` (default) uses
executor-local blocks: fastest, but lost with an executor, so a lost
executor fails the job and it restarts from the edges.
``checkpoint="reliable"`` writes to the session's checkpoint dir
(``sparkContext.setCheckpointDir`` — HDFS/S3 on a cluster) so the
iteration survives executor loss; the right choice when the pair
list itself took hours to produce.

At 100 TB the edge list (near-dup pairs) is orders of magnitude
smaller than the corpus — this runs over pairs only; the final
component map is joined back to the corpus with one shuffle (or a
broadcast when the dup set is small, the common case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    """min-label propagation exhausted max_iter without converging —
    returned labels would silently under-merge components."""


def _ckpt(df: DataFrame, mode: str) -> DataFrame:
    if mode == "local":
        return df.localCheckpoint()
    if mode == "reliable":
        # requires sparkContext.setCheckpointDir; eager so the lineage
        # truncation actually happens before the next iteration builds
        # on it
        return df.checkpoint(eager=True)
    raise ValueError(f"checkpoint must be 'local' or 'reliable', got {mode!r}")


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint: str = "local",
) -> DataFrame:
    """(node, component) for every node in the edge list; component is
    the minimum node id reachable from the node. Nodes with no edges
    are absent (callers union isolated nodes as self-components if
    needed).

    Raises :class:`ConvergenceError` if ``max_iter`` rounds pass
    without reaching a fixed point (one propagation hop per round —
    a chain longer than max_iter hops needs a higher limit), rather
    than silently returning under-merged labels.
    """
    sym = _ckpt(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct(),
        checkpoint,
    )
    # label(u) starts as min(u, min neighbor)
    labels = _ckpt(
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("mv"), F.col("u")).alias("label"),
        ),
        checkpoint,
    )
    converged = False
    for _ in range(max_iter):
        # propagate: candidate label for u = min over neighbors v of
        # label(v), then take min with own label
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = _ckpt(
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
            ),
            checkpoint,
        )
        unchanged = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .isEmpty()
        )
        labels = new_labels
        if unchanged:
            converged = True
            break
    if not converged:
        raise ConvergenceError(
            f"connected_components did not converge in {max_iter} iterations; "
            "raise max_iter (chains propagate one hop per iteration)"
        )
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 20,
    checkpoint: str = "local",
    broadcast_max_nodes: int = 5_000_000,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — the scale path for LONG-CHAIN graphs where
    :func:`connected_components`' one-hop-per-round min-label
    propagation needs O(diameter) rounds. Star contraction converges
    in O(log² n) rounds regardless of diameter: a 99-hop user-event
    chain takes ~99 propagation rounds but a handful of star rounds.
    Component = minimum node id in the component (same contract as
    connected_components; isolated nodes are likewise absent).

    One round is two passes over the edge list, each pass one
    node-sized min-aggregate joined back into the edges:

    - large-star: for every node u, hook each LARGER neighbor v > u
      directly to m = min(N(u) ∪ {u}) — long tails fold toward local
      minima, doubling the reach of every hop (this is what breaks
      the one-hop-per-round diameter bound);
    - small-star: orient every edge to (larger, smaller), then hook
      u and each smaller neighbor to m = min(N≤(u) ∪ {u}) —
      flattening the partial trees into stars.

    The min relation is node-sized and attached through the measured
    ``sized_side`` pin (broadcast below ``broadcast_max_nodes``
    measured nodes, forced sort-merge above — never plan-time stats;
    the gr4/gr6/gr7 OOM lesson). Each round's edge set is
    checkpoint-truncated exactly like the propagation path. Shuffle
    volume per round is proportional to the CURRENT edge set, which
    only shrinks as trees flatten; at 100 TB the dominant cost is the
    first two rounds over the raw pair list.

    Convergence detection: the round-over-round (count, xxhash64
    checksum) pair of the canonical directed edge set screens every
    round cheaply; the ONE round whose signature matches is then
    confirmed exactly with a single anti-join between the consecutive
    edge sets (counts already equal per the signature, so prev ⊆ e
    proves set equality) — correctness never rests on the hash, and
    the exact check runs once, on the smallest edge set of the run.
    Raises :class:`ConvergenceError` past ``max_rounds`` (the paper's
    bound is O(log² n) rounds with high probability) rather than
    returning under-merged labels.
    """
    from big_data_analytics_spark.operators.joins import sized_side

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    e = _ckpt(e, checkpoint)
    nodes = _ckpt(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct(),
        checkpoint,
    )
    n_nodes = nodes.count()

    def _mins(rel: DataFrame) -> DataFrame:
        # m(u) = min(N(u) ∪ {u}) over whatever neighborhood `rel`
        # encodes; node-sized regardless of edge volume.
        return (
            rel.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
        )

    def _large_star(rel: DataFrame) -> DataFrame:
        sym = rel.unionByName(
            rel.select(F.col("v").alias("u"), F.col("u").alias("v")))
        pinned = sized_side(_mins(sym), n_nodes, broadcast_max_nodes)
        # (v, m) for v > u: v > u ≥ m, so the pair is already
        # (larger, smaller)-canonical and never a self-loop.
        return (
            sym.join(pinned, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(rel: DataFrame) -> DataFrame:
        # rel is (larger, smaller)-canonical: every neighbor v < u.
        mins = _mins(rel)  # here m = min neighbor (< u)
        pinned = sized_side(mins, n_nodes, broadcast_max_nodes)
        hooked = (
            rel.join(pinned, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        own = mins.select(F.col("u"), F.col("m").alias("v"))
        return hooked.unionByName(own).distinct()

    def _sig(rel: DataFrame):
        row = rel.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum — an int64 sum of 64-bit hashes
            # overflows under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("chk"),
        ).collect()[0]
        return row["n"], row["chk"]

    sig = _sig(e)
    converged = False
    for _ in range(max_rounds):
        prev = e
        e = _ckpt(_small_star(_large_star(e)), checkpoint)
        new_sig = _sig(e)
        if new_sig == sig:
            # Exact confirmation, run ONCE at the candidate fixed
            # point: the signature already proves equal cardinality,
            # so one anti-join proving prev ⊆ e proves set equality —
            # correctness never rests on the 2^-64 collision odds of
            # the hash pair. Cost: one join on the FINAL (smallest)
            # edge set, only in the round that terminates.
            if prev.join(e, ["u", "v"], "left_anti").isEmpty():
                converged = True
                break
        sig = new_sig
    if not converged:
        raise ConvergenceError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds; the O(log² n) bound suggests a data problem "
            "(raise max_rounds only after checking the edge build)"
        )
    # converged set is a star forest oriented (node, root) with
    # root < node; roots appear only on the v side.
    parents = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        nodes.join(parents.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return parents.unionByName(roots)


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint: str = "local",
) -> DataFrame:
    """Keep one representative (the min id) per duplicate cluster.

    Transitively correct (unlike pair-wise loser removal): A~B~C keeps
    only min(A,B,C) even when A≁C directly."""
    comp = connected_components(pairs, src, dst, max_iter, checkpoint)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def build_node_info(e: DataFrame, weighted: bool) -> DataFrame:
    """(node, wsum) for every node of the unique-(src, dst) edge
    relation ``e`` in ONE pass: each edge emits (src, w) and (dst, 0);
    the per-node Σ is the flow denominator (outdeg when unweighted),
    and greatest(·, 1) repairs dangling nodes — their denominator is
    never read (they never appear as src in the flow join), so the
    repair only keeps the division total. Shared by :func:`pagerank`
    and the query layer's session node-info cache so both build the
    bit-identical relation."""
    src_w = (F.col("w").cast("long") if weighted
             else F.lit(1).cast("long"))
    return (
        e.select(F.explode(F.array(
            F.struct(F.col("src").alias("node"), src_w.alias("wv")),
            F.struct(F.col("dst").alias("node"),
                     F.lit(0).cast("long").alias("wv")))).alias("x"))
        .select("x.node", "x.wv")
        .groupBy("node")
        .agg(F.greatest(F.sum("wv"), F.lit(1).cast("long")).alias("wsum")))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    checkpoint: str = "local",
    strategy: str = "auto",
    broadcast_max_nodes: int = 5_000_000,
    assume_distinct: bool = False,
    materialize: bool = True,
    weight: str | None = None,
    node_info: DataFrame | None = None,
    n_nodes: int | None = None,
    n_edges: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, in *integer
    micro-units* so the result is bit-identical on any engine and any
    partitioning.

    Floating-point PageRank is order-dependent (parallel double sums
    differ in the last ulp run-to-run), which makes results
    non-reproducible at scale and un-oracle-able. Instead rank is a
    BIGINT in micro-units: rank_0 = 1_000_000 per node, and each round

        rank'(v) = 150_000 + (85 * SUM over u->v of rank(u) div outdeg(u)) div 100

    i.e. damping 0.85 with floor division at the two points where
    fractions appear. The floors lose < 1 micro-unit per term — far
    below any ranking-relevant difference — and buy exact
    order-independence, the same trade the integer-cents money
    convention makes (functions/money.py).

    Two physical strategies (``strategy='auto'`` picks by node count):

    - ``'broadcast'`` — rank/node relations are node-sized, usually
      orders of magnitude smaller than the edge list (20k parts vs
      2.4M co-purchase edges here; the same ratio holds for most
      entity graphs). Broadcast the rank table into the edge join, and
      seed the flow aggregation with a zero row per node instead of a
      second repair join — each iteration is then ONE distributed
      aggregation over the edges, no edge shuffle, no per-iteration
      checkpoint (the whole fixed-iteration recursion stays one lazy
      plan; broadcasts materialize the per-round ranks). The persisted
      edge relation is sized to ~64 MB partitions from the measured
      edge count — partition count follows data volume, not core
      count, so the same code is 1 partition at sf0.1 and ~4k
      partitions for a 10-billion-edge graph.
    - ``'shuffle'`` — for node sets too large to broadcast
      (> ``broadcast_max_nodes``): hash-join ranks to edges each round
      with checkpoint-truncated lineage (the connected_components
      pattern). At 100 TB pre-bucket the edge list by ``src`` and the
      per-round join is exchange-free on the edge side.

    Dangling nodes (outdeg 0) keep rank mass only through the
    teleport term, the standard simplification when the graph is
    symmetric or near-symmetric.

    ``weight`` names an edge-weight column: rank mass then flows
    proportionally to weight — flow(u→v) = (rank(u)·w(u,v)) div
    Σw(u,·) — with the same floor-division integer discipline, so the
    weighted recursion stays engine-exact. Unweighted is the w≡1
    special case (flow = rank div outdeg). With a weight column,
    ``assume_distinct=False`` aggregates duplicate (src, dst) rows by
    summing their weights instead of dropping them.

    With ``materialize=False`` the returned plan still reads the
    persisted node_info relation — the CALLER owns cleanup: consume
    (or checkpoint) the result, then ``spark.catalog.clearCache()`` or
    re-call with materialize=True; repeated materialize=False calls in
    a long session accumulate cached node-sized relations.

    ``node_info`` / ``n_nodes`` / ``n_edges`` (r15): a caller that
    keeps the graph for a session (graph_queries' cached co-purchase
    relation) may pass the MATERIALIZED (node, wsum) relation built by
    :func:`build_node_info` with its measured counts — the internal
    persist-count pass and node-info aggregate are then skipped (they
    are the persisted side tables you'd keep next to a 100 TB edge
    list, not per-query work). With ``n_edges`` given the input edge
    relation must already be unique-(src, dst) and materialized
    (``assume_distinct`` edges from a checkpoint); with ``node_info``
    given, ``n_nodes`` is required and the relation is the caller's to
    unpersist.
    """
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight is not None:
        cols.append(F.col(weight).cast("long").alias("w"))
    e = edges.select(*cols)
    own_input = n_edges is None
    if not own_input and not assume_distinct:
        # a caller-supplied n_edges skips the internal persist, so a
        # dedup here would be silently recomputed by node_info and
        # every iteration scan — the "must already be unique and
        # materialized" contract, enforced instead of docstring-only
        # (r15 ADVICE).
        raise ValueError("n_edges requires assume_distinct=True: the "
                         "caller's edge relation must already be "
                         "unique-(src, dst) and materialized")
    if not assume_distinct:
        # flow correctness requires unique (src, dst); callers whose
        # edge build already ends in a distinct/groupBy pass the flag
        # and save a full re-shuffle of the edge list.
        if weight is None:
            e = e.distinct()
        else:
            e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    if own_input:
        e = e.persist()
        n_edges = e.count()
    # the per-node flow denominator: outdeg when unweighted, Σw when
    # weighted — one name ("wsum") so both paths share the plan shape
    if weight is None:
        flow_expr = "rank div wsum"
        row_bytes = 16
    else:
        flow_expr = "(rank * w) div wsum"
        row_bytes = 24
    # node universe + flow denominator in ONE pass over the edges
    # (r15: the separate deg aggregate, src∪dst distinct, and repair
    # join were three passes + a join for the same node-sized result)
    own_ni = node_info is None
    if own_ni:
        node_info = build_node_info(e, weight is not None).persist()
        ni_cached = node_info  # unpersist handle (coalesce derives)
        n_nodes = node_info.count()
    elif n_nodes is None:
        raise ValueError("node_info requires its measured n_nodes")
    if strategy == "auto":
        strategy = ("broadcast" if n_nodes <= broadcast_max_nodes
                    else "shuffle")
    try:
        if strategy == "broadcast":
            # Partition floor at the session parallelism so small
            # graphs still use every core (the old ~8 MB/task target
            # left 27 of 32 cores idle at sf0.1 — r15 A/B); huge
            # graphs settle near 64 MB tasks. coalesce() cannot raise
            # the parent partition count, so this never adds a
            # shuffle.
            para = edges.sparkSession.sparkContext.defaultParallelism
            n_parts = int(max(para,
                              n_edges * row_bytes // (64 << 20) + 1))
            e_sized = e.coalesce(n_parts)
            # wsum is a *node-sized* attribute: attach it to the
            # broadcast rank table, never to the 100-1000x larger edge
            # list — the edge relation is persisted exactly once and
            # no per-edge join ever materializes. node_info partitions
            # follow node volume (1 at 20k nodes, a handful at the 5M
            # broadcast ceiling) — never an unconditional coalesce(1).
            # (caller-provided node_info arrives already sized)
            if own_ni:
                node_info = node_info.coalesce(
                    int(n_nodes * 16 // (32 << 20) + 1))
            zero = node_info.select(F.col("node").alias("dst"),
                                    F.lit(0).cast("long").alias("flow"))
            ranks = node_info.select(
                "node", "wsum",
                F.lit(1_000_000).cast("long").alias("rank"))
            for _ in range(iterations):
                flows = (
                    e_sized.join(F.broadcast(ranks),
                                 e_sized.src == ranks.node)
                    .select("dst", F.expr(flow_expr).alias("flow"))
                    .unionByName(zero)
                )
                ranks = (
                    flows.groupBy("dst").agg(F.sum("flow").alias("inflow"))
                    .join(node_info, F.col("dst") == node_info.node)
                    .select(
                        "node", "wsum",
                        (F.lit(150_000) + F.expr("85 * inflow div 100"))
                        .cast("long").alias("rank"),
                    )
                )
            ranks = ranks.select("node", "rank")
            if not materialize:
                # caller wants the lazy iteration plan (inspection /
                # composition); cached relations stay alive for it —
                # see the docstring: cleanup is the caller's.
                return ranks
            # materialize before unpersisting the relations it reads
            ranks = ranks.localCheckpoint()
            if own_ni:
                ni_cached.unpersist()
            return ranks
        if strategy != "shuffle":
            raise ValueError(
                f"strategy must be auto/broadcast/shuffle, got {strategy!r}")
        # the cached node_info doubles as the degree relation (wsum is
        # only ever read for real sources) and the node universe
        e_deg = _ckpt(
            e.join(node_info.withColumnRenamed("node", "src"), "src"),
            checkpoint)
        nodes_c = _ckpt(node_info.select("node"), checkpoint)
        ranks = _ckpt(
            nodes_c.select("node",
                           F.lit(1_000_000).cast("long").alias("rank")),
            checkpoint,
        )
        for _ in range(iterations):
            ranks = _ckpt(_pr_shuffle_step(e_deg, ranks, nodes_c,
                                           flow_expr), checkpoint)
        if own_ni:
            ni_cached.unpersist()
        return ranks
    finally:
        if own_input:
            e.unpersist()


def _pr_shuffle_step(e_deg: DataFrame, ranks: DataFrame,
                     nodes_c: DataFrame, flow_expr: str) -> DataFrame:
    """One shuffle-path PageRank round: plain (unhinted) joins of the
    rank table into the degree-annotated edge list and of the inflow
    aggregate back onto the node universe — past the broadcast
    ceiling these plan as shuffled joins on the cluster's stats.
    Module-level (not inlined in the loop) for the same reason as
    _lpa_step: the per-round checkpoint erases the composed plan, so
    the SMJ-side plan guard
    (tests/test_plans.py::test_pr_shuffle_step_no_node_broadcast)
    needs a raw round to inspect — it pins that with auto-broadcast
    disabled NO relation in the round plans a BroadcastExchange,
    i.e. the shuffle path never silently rides a broadcast of the
    node universe (the r13 30x-probe correction: gr1/lp1 had only
    ever exercised the broadcast path; this is the guard for the
    other side)."""
    contrib = (
        e_deg.join(ranks, e_deg.src == ranks.node)
        .select("dst", F.expr(flow_expr).alias("flow"))
        .groupBy("dst")
        .agg(F.sum("flow").alias("inflow"))
    )
    return (
        nodes_c.join(contrib, nodes_c.node == contrib.dst, "left")
        .select(
            "node",
            (F.lit(150_000)
             + F.expr("85 * coalesce(inflow, 0L) div 100"))
            .cast("long").alias("rank"),
        )
    )


def _lpa_step(edge_rel: DataFrame, lab: DataFrame,
              join_hint, fuse: bool = False,
              pack_span: int | None = None) -> DataFrame:
    """One LPA round: join labels into edges, then mode-of-neighbor
    labels per dst with the (count DESC, label ASC) tie-break. Module-
    level (not a closure) so the plan guard
    test_lp1_fused_step_single_exchange can inspect a raw round — the
    broadcast path's localCheckpoint erases the plan of the composed
    recursion (the gr4/_bfs_hop precedent).

    ``fuse`` replaces the two aggregation exchanges — (dst, label)
    then dst — with ONE repartition of the raw joined rows on dst:
    HashPartitioning(dst) satisfies the clustering requirement of both
    downstream aggregations (partitioning on a subset of the group
    keys), at the price of losing the map-side combine into the first
    exchange (worth nothing in LPA's early near-distinct-label
    rounds; see label_propagation's docstring for the measurements).

    ``pack_span`` (r15): with non-negative labels below ``span`` and
    per-(dst,label) counts bounded so n·span + span stays under 2^63
    (label_propagation derives both from measured aggregates), the
    argmax runs over the single packed long n·span + (span−1−label)
    instead of a lexicographic (n, −label, label) struct — maximizing
    the pack IS (count DESC, label ASC), exactly. The long max avoids
    a per-group struct allocation and shrinks the second aggregate's
    row; an interleaved packed-vs-struct A/B at sf0.1 read parity
    within box noise (the measured lp1 win came from the combined r15
    changes), so the pack is kept for its smaller rows, not a claimed
    CPU cut. ``None`` keeps the struct form."""
    joined = edge_rel.join(join_hint(lab), edge_rel.src == lab.node)
    if fuse:
        joined = joined.repartition("dst")
    cnt = (joined
           .groupBy(F.col("dst").alias("node2"), "label")
           .agg(F.count("*").alias("n")))
    if pack_span is not None:
        span = F.lit(int(pack_span)).cast("long")
        return (cnt
                .groupBy("node2")
                .agg(F.max(F.col("n") * span
                           + (span - 1 - F.col("label"))).alias("p"))
                .select(F.col("node2").alias("node"),
                        (span - 1 - F.col("p") % span).cast("long")
                        .alias("label")))
    return (cnt
            .groupBy("node2")
            .agg(F.max(F.struct(
                F.col("n"), (-F.col("label")).alias("neg"),
                F.col("label"))).alias("best"))
            .select(F.col("node2").alias("node"),
                    F.col("best.label").alias("label")))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    checkpoint: str = "local",
    strategy: str = "auto",
    broadcast_max_nodes: int = 5_000_000,
    assume_distinct: bool = False,
    fuse_exchanges: bool | None = None,
    nodes: DataFrame | None = None,
    node_stats: tuple[int, int, int] | None = None,
    n_edges: int | None = None,
) -> DataFrame:
    """Synchronous label propagation (fixed iteration count) over a
    directed edge list; returns (node, label).

    ``nodes`` / ``node_stats`` / ``n_edges`` (r15): a session-cached
    caller may pass the materialized distinct node relation (MUST
    equal the distinct ``src`` set — on the symmetric graphs LPA is
    meant for that is src∪dst), its measured (count, min id, max id),
    and the unique edge count; the internal persist-count and
    node-stats aggregate are then skipped. With ``n_edges`` given the
    edge relation must already be unique and materialized.

    Labels start as the node's own id (over the distinct ``src`` set —
    on the symmetric graphs LPA is meant for, src and dst sets are
    equal). Each round every node takes the *mode* of its in-neighbor
    labels, ties broken deterministically by (count DESC, label ASC) —
    not SQL mode(), whose tie order is engine-defined — so the
    fixed-iteration result is engine-exact and hash-gradeable. The
    pick is one max of a lexicographic (n, -label) struct.

    ``fuse_exchanges`` (default: ON for both strategies) replaces
    the two per-round aggregation exchanges — (dst, label) then dst —
    with ONE repartition of the raw joined rows on dst;
    HashPartitioning(dst) satisfies the clustering requirement of both
    aggregations (partitioning on a subset of the group keys), so both
    run exchange-free on it. The trade: the (dst, label) exchange
    loses its map-side combine — but LPA's early rounds have
    near-distinct labels (round 0: label == node id), so the combine
    shrinks almost nothing while the extra exchange is real. Measured
    (round 9, co-purchase graph, warm best-of-3): broadcast path
    sf0.1 4.78 -> 3.32 s (-30%), 10x / 24M edges 16.51 -> 14.00 s
    (-15%); shuffle path sf0.1 6.31 -> 4.62 s (-27%), 10x
    15.57 -> 12.10 s (-22%) — the combine-grows-as-labels-converge
    hypothesis that kept the shuffle path unfused did NOT hold at
    either scale, so the fused step is now the default everywhere
    (pass ``fuse_exchanges=False`` on a graph whose label histogram
    is known to collapse early).

    Strategy mirrors :func:`pagerank`: ``'broadcast'`` ships the
    node-sized label table into the edge join each round (no edge
    shuffle, whole recursion one lazy plan); ``'shuffle'`` hash-joins
    with checkpoint-truncated lineage for node sets beyond broadcast
    reach (> ``broadcast_max_nodes``); ``'auto'`` picks by measured
    node count. At 100 TB pre-bucket the edges by ``src`` and the
    shuffle path's per-round join is exchange-free on the edge side.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    own_input = n_edges is None
    if not own_input and not assume_distinct:
        # same contract as pagerank: caller-supplied n_edges implies a
        # unique, materialized edge relation (r15 ADVICE)
        raise ValueError("n_edges requires assume_distinct=True: the "
                         "caller's edge relation must already be "
                         "unique-(src, dst) and materialized")
    if not assume_distinct:
        e = e.distinct()
    if own_input:
        e = e.persist()
        n_edges = e.count()
    if nodes is None:
        nodes = e.select(F.col("src").alias("node")).distinct()
        # one aggregate pin instead of a bare count: node count picks
        # the strategy, the id range decides whether the mode argmax
        # may run on a packed long (labels are always node ids, so
        # max(label) ≤ max node id in every round; counts are bounded
        # by n_edges)
        row = nodes.agg(F.count(F.lit(1)).alias("n"),
                        F.min("node").alias("lo"),
                        F.max("node").alias("hi")).first()
        node_stats = (int(row["n"]), int(row["lo"] or 0),
                      int(row["hi"] or 0))
    elif node_stats is None:
        raise ValueError("nodes requires its measured node_stats")
    n_nodes, lo, hi = node_stats
    pack_span = None
    if n_nodes and lo >= 0:
        span = hi + 1
        if n_edges <= (1 << 63) // span - 1:
            pack_span = span
    if strategy == "auto":
        strategy = ("broadcast" if n_nodes <= broadcast_max_nodes
                    else "shuffle")
    labels = nodes.select("node", F.col("node").alias("label"))
    if fuse_exchanges is None:
        fuse_exchanges = True

    try:
        if strategy == "broadcast":
            # partition floor at the session parallelism (pagerank's
            # r15 rule — the 8 MB/task target under-parallelized small
            # graphs); coalesce never adds a shuffle
            para = edges.sparkSession.sparkContext.defaultParallelism
            n_parts = int(max(para, n_edges * 16 // (64 << 20) + 1))
            e_sized = e.coalesce(n_parts)
            for _ in range(iterations):
                labels = _lpa_step(e_sized, labels, F.broadcast,
                                   fuse=fuse_exchanges,
                                   pack_span=pack_span)
            return labels.localCheckpoint()
        if strategy != "shuffle":
            raise ValueError(
                f"strategy must be auto/broadcast/shuffle, got {strategy!r}")
        labels = _ckpt(labels, checkpoint)
        for _ in range(iterations):
            labels = _ckpt(_lpa_step(e, labels, lambda d: d,
                                     fuse=fuse_exchanges,
                                     pack_span=pack_span), checkpoint)
        return labels
    finally:
        if own_input:
            e.unpersist()
