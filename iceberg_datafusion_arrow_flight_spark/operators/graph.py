"""Iterative graph algorithms as driver-loop DataFrame plans.

The reference's engine (pinned DataFusion 40, iceberg-datafusion-arrow-flight/src/lib.rs:678)
has no iterative operator; SQL expresses fixpoints only through
recursive CTEs, which materialize the transitive closure.  Spark's
native form is the driver loop over keyed joins — work per round is
O(edges), checkpointed flat, and each round is an ordinary shuffled
aggregation that scales exactly like any other keyed agg at 100 TB.
Connected components (min-label propagation) lives in
:mod:`.dedup`; this module holds the weighted-iteration family.

Cross-engine determinism contract: every per-round rank is rounded to
``round_digits`` decimals on BOTH engines.  Per-edge contributions are
bit-identical quotients of identically-rounded operands; only the
float SUM order differs between engines (last-ulp noise, «1e-12), so
the shared per-round rounding re-synchronizes the state before it can
compound across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import (checkpoint_partitioned, fits_broadcast,
                           partition_count)
from .materialize import materialize


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iterations: int = 5, damping: float = 0.85,
             round_digits: int = 10,
             reset: DataFrame | None = None,
             broadcast_state: bool | None = None) -> DataFrame:
    """Fixed-iteration PageRank over a DIRECTED edge list.

    r_{k+1}(v) = (1-d)·reset(v) + d * Σ_{u→v} r_k(u) / outdeg(u)

    With ``reset=None`` the teleport vector is uniform (classic
    PageRank: reset(v) = 1/N).  Passing a one-column DataFrame of seed
    node ids makes it PERSONALIZED PageRank: teleport mass restarts
    uniformly over the seeds only (reset(v) = 1/|seeds| on seeds, 0
    elsewhere), so the stationary mass concentrates in the seeds'
    neighborhoods — the similar-node / recommendation primitive.  The
    seed set is broadcast (seeds are query-sized by contract); ranks
    start at the reset vector.

    The node universe is src ∪ dst: destination-only nodes (sinks)
    receive mass and appear in the output.  Dangling mass — the rank
    sitting on nodes with no out-edges — is redistributed through the
    teleport vector each round (r_{k+1} gains d·D_k·reset(v), the
    classic Google-matrix completion), so the iteration conserves
    probability on ANY directed edge list.  Callers wanting undirected
    centrality still symmetrize the edge list first (then no node is
    dangling and the redistribution term is exactly zero — the plan
    skips it entirely, keeping the arithmetic bit-identical to the
    sink-free form the oracles unroll).

    Plan shape: the edge list is localCheckpoint'ed once, and its size
    estimate fixes one partition count ``n`` for every partitioned table
    below (:func:`.partitioning.partition_count` — AQE's own coalescing
    target, applied by hand because :func:`checkpoint_partitioned` has
    to materialize with AQE off; small graphs iterate on one partition
    per core, large ones on ``spark.sql.shuffle.partitions``).  One node
    table (node, out-degree, seed flag) is checkpointed partitioned on
    the node id, and ONE aggregate over it returns the node, dangling
    and seed counts the set-up needs.  The teleport vector is a literal
    projection of that table, so it stays co-partitioned with the
    state: each round's ``reset ⋈ incoming`` plans without an exchange.
    Per round: (edges+outdeg) ⋈ ranks (ONE hash join on the source key
    — the out-degree is pre-joined into the checkpointed edge list
    once) → dst-keyed partial-agg sum → node left-join for
    zero-indegree nodes.  Per-edge contributions stay the identical
    quotient rank/outdeg (same operands, same division — the
    cross-engine rounding contract is untouched).  The rank state is
    checkpointed every round — the same flat-lineage discipline as
    :func:`..dedup.connected_components`; without it round k's plan
    would re-derive rounds 0..k-1.  All state is (node, rank) — bytes
    per node, never per edge — and every shuffle is keyed on node ids,
    so skew follows the graph's degree distribution (hub nodes land in
    single partitions only for their AGGREGATION row, not their edge
    fan-in, because the sum is partial-aggregated map-side).

    Returns (node, rank) after ``iterations`` rounds, each round's
    ranks rounded to ``round_digits`` (see module docstring).
    """
    e = (edges.select(F.col(src).cast("long").alias("a"),
                      F.col(dst).cast("long").alias("b"))
         .transform(materialize))
    n = partition_count(e)
    # The node universe src ∪ dst with its out-degree (0 = dangling)
    # and teleport membership; uniform PageRank is the personalized
    # form whose seeds are every node.
    nodes = (e.select(F.col("a").alias("node"), F.lit(1).alias("__o"))
             .unionAll(e.select(F.col("b").alias("node"), F.lit(0)))
             .groupBy("node").agg(F.sum("__o").alias("__deg")))
    if reset is None:
        nodes = nodes.withColumn("__seed", F.lit(True))
    else:
        # Restrict to seeds that exist in the graph BEFORE normalizing:
        # otherwise absent seeds' teleport mass silently vanishes and
        # the walk no longer conserves probability.
        seeds = (reset.select(F.col(reset.columns[0]).cast("long")
                              .alias("node"), F.lit(True).alias("__seed"))
                 .distinct())
        nodes = (nodes.join(F.broadcast(seeds), "node", "left")
                 .select("node", "__deg",
                         F.coalesce("__seed", F.lit(False)).alias("__seed")))
    nodes = checkpoint_partitioned(nodes, "node", partitions=n)
    n_nodes, n_dangling, n_seeds = nodes.agg(
        F.count(F.lit(1)), F.count_if(F.col("__deg") == 0),
        F.count_if("__seed")).first()
    if n_seeds == 0:
        raise ValueError(
            "personalized pagerank: no seed appears in the graph — "
            "the teleport vector would be all-zero (NaN ranks)")
    base = nodes.select("node", F.round(
        F.when(F.col("__seed"), F.lit(1.0) / F.lit(float(n_seeds)))
        .otherwise(F.lit(0.0)), round_digits).alias("__reset"))
    # Static dangling set: nodes with no out-edge.  Empty for
    # symmetrized graphs, where the per-round redistribution job is
    # skipped outright.
    dangling = nodes.where(F.col("__deg") == 0).select("node")
    # Two per-round regimes, decided once by whether the O(nodes) rank
    # state fits the session broadcast threshold (overridable):
    #
    # broadcast regime — pre-join the out-degree into the edge list
    # ONCE and checkpoint it hash-partitioned on the DESTINATION key:
    # the rank side of the contribution join broadcasts (explicit
    # F.broadcast hint — above the auto threshold the planner would
    # otherwise silently fall back to SMJ and re-shuffle the edge
    # table every round), a broadcast join preserves the probe side's
    # partitioning, and the dst-keyed aggregation then needs no
    # exchange — zero per-round shuffles after the one up-front.
    #
    # fallback regime (state too big to broadcast) — checkpoint the
    # edge table partitioned on the SOURCE key and each round's ranks
    # partitioned on the node id: the contribution join is then
    # co-partitioned (no exchange on the O(edges) side, ever); the
    # only per-round shuffle is the dst-keyed aggregation's O(nodes)
    # partial-agg output — the floor for message-passing by key.
    if broadcast_state is None:
        broadcast_state = fits_broadcast(nodes, n_nodes)
    deg = nodes.where(F.col("__deg") > 0).select(
        F.col("node").alias("a"), "__deg")
    ew = checkpoint_partitioned(e.join(deg, "a"),
                                "b" if broadcast_state else "a",
                                partitions=n)
    ranks = base.select("node", F.col("__reset").alias("rank"))
    # Every round is checkpointed: skipping a barrier makes the next
    # materialization re-execute the unflattened round's joins, and the
    # per-round cut is what keeps plan depth constant at any iteration
    # count.
    for _ in range(iterations):
        rank_side = F.broadcast(ranks) if broadcast_state else ranks
        contrib = (ew.join(rank_side, ew["a"] == ranks["node"])
                   .groupBy(F.col("b"))
                   .agg(F.sum(F.col("rank") / F.col("__deg")).alias("__m")))
        incoming = F.coalesce(F.col("__m"), F.lit(0.0))
        joined = base.join(contrib, base["node"] == contrib["b"], "left")
        if n_dangling:
            # Dangling mass this round: Σ r_k over out-degree-0 nodes —
            # an O(nodes) semi-join + scalar agg, redistributed ∝ reset.
            dmass = (ranks.join(dangling, "node", "left_semi")
                     .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                          .alias("__dm")))
            joined = joined.crossJoin(F.broadcast(dmass))
            incoming = incoming + F.col("__dm") * F.col("__reset")
        ranks = (joined
                 .select("node",
                         F.round(F.lit(1.0 - damping) * F.col("__reset")
                                 + F.lit(damping) * incoming,
                                 round_digits).alias("rank")))
        ranks = (ranks.transform(materialize) if broadcast_state
                 else checkpoint_partitioned(ranks, "node", partitions=n))
    return ranks


def undirected_distinct(df: DataFrame, a: str, b: str) -> DataFrame:
    """Canonical undirected edge list: each pair once as
    ``(u, v) = (least, greatest)``, self-loops dropped."""
    return (df.select(F.least(F.col(a), F.col(b)).alias("u"),
                      F.greatest(F.col(a), F.col(b)).alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())


def symmetrize(und: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Both directions of an undirected ``(u, v)`` edge list in ONE
    pass: each row explodes map-side into (u,v) and (v,u) inside the
    same stage.  The union-of-two-selects spelling re-executes the
    whole upstream edge build once per branch — Spark's exchange reuse
    does not fire across the branches' differing projections, so e.g.
    the co-purchase build's groupBy+distinct ran twice per
    symmetrization (r12 plan audit, guide §2.4: remove duplicate
    subtrees before removing shuffles).  Same row SET either way;
    row/partition order differs, which only float consumers could see —
    the one float consumer (pagerank) re-syncs with per-round rounding
    and is output-verified in the r12 notes."""
    return (und.select(F.explode(F.array(
        F.struct(F.col("u").alias(a), F.col("v").alias(b)),
        F.struct(F.col("v").alias(a), F.col("u").alias(b)))).alias("e"))
            .select(f"e.{a}", f"e.{b}"))


def degree_orient(und: DataFrame) -> DataFrame:
    """Orient each undirected edge from its lower-(degree, id) endpoint
    to the higher one — the classic triangle-counting orientation: the
    oriented out-degree of every node is O(sqrt(2m)), so wedge fan-out
    per node is bounded regardless of how skewed the raw degrees are
    (the id-ordered orientation a naive a<b join uses puts the whole
    fan-out of a popular low-id hub on one key).  Deterministic:
    degree ties break by id.  Two keyed aggs + one projection.

    ``und`` is read three times (both degree legs + the edge join), so
    it is materialized once here (localCheckpoint; on a multi-executor
    cluster persist(MEMORY_AND_DISK) is the lineage-keeping drop-in) —
    the same materialize-before-reuse discipline as ann_lsh_topk's
    bucket table; without it the upstream edge build re-runs per leg."""
    und = und.transform(materialize)
    deg = (und.select(F.col("u").alias("node"))
           .unionAll(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    du = deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du")
    dv = deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv")
    e = und.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | \
                  ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    return e.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("d"))


def triangles(oriented: DataFrame) -> DataFrame:
    """All triangles of a degree-oriented edge list, one row per
    triangle as (a, b, c) in orientation order — the EDGE-ITERATOR
    form: for each oriented edge (a, b), every common out-neighbor
    c ∈ N⁺(a) ∩ N⁺(b) closes a triangle (a→b, b→c, a→c all present).
    Each triangle appears exactly once — its three vertices have a
    unique orientation order.

    Why this shape beats the wedge-join form it replaced (two
    shuffle_hash equi-joins, r6): the 49.2 M-row wedge stream at sf0.1
    never materializes — the adjacency lists ship as PACKED ARRAYS on
    edge-list-sized shuffles (same total entries, a fraction of the
    per-row overhead) and the closing "join" becomes a JVM-side
    array_intersect inside one codegen stage.  Same-conditions
    min-of-2-cold A/B at sf0.1: 5.13/5.23 s → 3.64/4.04 s (~25%),
    output bit-identical (25 rows / 1,884,488 triangles; two-scale
    DuckDB gate re-run).  Degree orientation still does the heavy
    lifting: out-degree ≤ O(sqrt(2m)), so a per-edge row carries at
    most 2·sqrt(2m) packed entries even on power-law graphs — the
    same wedge bound as before, just without the row explosion.

    The oriented list feeds the edge leg and both adjacency legs, so
    it is materialized once (localCheckpoint; persist(MEMORY_AND_DISK)
    is the multi-executor drop-in).  shuffle_hash hints: the adjacency
    table is the build side and sorting either side buys nothing."""
    oriented = oriented.transform(materialize)
    adj = oriented.groupBy("s").agg(F.collect_list("d").alias("nb"))
    a_adj = adj.select(F.col("s").alias("a"), F.col("nb").alias("nb_a"))
    b_adj = adj.select(F.col("s").alias("b"), F.col("nb").alias("nb_b"))
    return (oriented.select(F.col("s").alias("a"), F.col("d").alias("b"))
            .join(a_adj.hint("shuffle_hash"), "a")
            .join(b_adj.hint("shuffle_hash"), "b")
            .select("a", "b",
                    F.explode(F.array_intersect("nb_a", "nb_b"))
                     .alias("c")))


def bfs_layers(und: DataFrame, seeds: DataFrame,
               max_depth: int = 3) -> DataFrame:
    """Multi-source BFS to a bounded depth: min-hop distance from ANY
    seed over an undirected edge list ``und(u, v)``; returns one row
    per BFS layer ``(depth, n_nodes)`` plus a ``depth = -1`` row for
    incident nodes no seed reaches within ``max_depth``.

    The canonical frontier-expansion shape every distributed graph
    engine uses (Pregel/GraphX supersteps re-expressed as DataFrame
    rounds): per round, one equi-join of the CURRENT frontier against
    the edge list plus one anti-join against the visited set — work is
    O(frontier-adjacent edges), never O(all edges × depth), and the
    round count is the SEMANTIC depth cap, not a convergence fudge.
    Each layer is checkpointed so lineage stays flat (the
    multi-executor drop-in is persist(MEMORY_AND_DISK)).  Nothing ever
    reaches the driver — layers stay distributed and only the
    per-depth counts are aggregated at the end."""
    # Checkpoint the symmetrized edge list ONCE: it feeds every BFS
    # round plus the node universe, and without the cut each round
    # would re-run the whole upstream edge build (measured 11.6 s →
    # 5.0 s at sf0.1 on the co-purchase graph).
    sym = symmetrize(und).transform(materialize)
    nodes = sym.select(F.col("a").alias("node")).distinct()
    visited = (seeds.select("node").distinct()
               .withColumn("depth", F.lit(0))
               .transform(materialize))
    frontier = visited.select("node")
    for d in range(1, max_depth + 1):
        nbrs = (frontier.join(sym, frontier["node"] == sym["a"])
                .select(F.col("b").alias("node")).distinct())
        new = (nbrs.join(visited.select("node"), "node", "left_anti")
               .withColumn("depth", F.lit(d))
               .transform(materialize))
        # Frontier exhausted ⇒ every later layer is empty by
        # definition: stop expanding (the depth spine below still
        # emits the zero rows).  The check is free — `new` was just
        # materialized by the eager checkpoint.  A dense graph covers
        # itself well before the cap, and without the break each dead
        # round still pays a full frontier×edges join.
        if new.isEmpty():
            break
        visited = visited.unionByName(new)
        frontier = new.select("node")
    layer_counts = (visited.groupBy("depth")
                    .agg(F.count(F.lit(1)).cast("bigint")
                         .alias("n_nodes")))
    unreached = (nodes.join(visited.select("node"), "node", "left_anti")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
                 .select(F.lit(-1).alias("depth"), "n_nodes"))
    # Emit EVERY depth row even when a layer is empty (a dense graph
    # exhausts itself before the cap): join counts onto a literal
    # depth spine so the report's shape is depth-cap-determined, not
    # data-determined.
    spine = (und.sparkSession.range(1)
             .select(F.explode(F.array(
                 *[F.lit(d) for d in range(0, max_depth + 1)]))
                 .alias("depth")))
    filled = (spine.join(layer_counts, "depth", "left")
              .select("depth",
                      F.coalesce(F.col("n_nodes"), F.lit(0))
                       .cast("bigint").alias("n_nodes")))
    return (filled.unionByName(unreached)
            .select(F.col("depth").cast("int").alias("depth"), "n_nodes")
            .orderBy("depth"))


def kcore_peel(und: DataFrame, k: int, rounds: int = 8) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly remove
    nodes whose degree in the SURVIVING subgraph is below k; the
    fixpoint is the k-core (Seidman 1983).  Returns a per-round ledger
    ``(round, n_removed, n_remaining)`` with round 0 as the baseline —
    the convergence trace IS the output, BPE-training style, so the
    oracle can pin every intermediate state, not just the final core.

    The ledger has EXACTLY ``rounds`` + 1 rows: once a round removes
    nothing the remaining rounds are provably identical, so they are
    emitted as literal pad rows without recomputation (deterministic
    by the fixpoint property).  If the peel has NOT converged by the
    cap the function raises — a silent non-fixpoint would report a
    superset of the true core.

    Scale: each round is two semi-joins of the edge list against the
    surviving node set plus one keyed count — work ∝ surviving edges,
    never node² — with the node set checkpointed per round (flat
    lineage; persist(MEMORY_AND_DISK) is the multi-executor drop-in)."""
    spark = und.sparkSession
    edges = und.select("u", "v").transform(materialize)
    nodes = (edges.select(F.col("u").alias("n"))
             .unionByName(edges.select(F.col("v").alias("n")))
             .distinct().transform(materialize))
    n_prev = nodes.count()
    ledger = [(0, 0, n_prev)]
    converged_at = None
    for r in range(1, rounds + 1):
        if converged_at is not None:
            ledger.append((r, 0, n_prev))
            continue
        live = (edges.join(nodes, edges["u"] == nodes["n"], "left_semi")
                .join(nodes, edges["v"] == nodes["n"], "left_semi"))
        deg = (live.select(F.col("u").alias("n"))
               .unionByName(live.select(F.col("v").alias("n")))
               .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
        nodes = (deg.where(F.col("d") >= k).select("n")
                 .transform(materialize))
        n_now = nodes.count()
        ledger.append((r, n_prev - n_now, n_now))
        if n_now == n_prev:
            converged_at = r
        n_prev = n_now
    if converged_at is None and ledger[-1][1] != 0:
        raise AssertionError(
            f"k-core peel did not converge within {rounds} rounds "
            f"(last round removed {ledger[-1][1]}) — raise the cap")
    return spark.createDataFrame(
        ledger, "round int, n_removed bigint, n_remaining bigint")


def label_propagation(und: DataFrame, rounds: int = 3,
                      broadcast_state: bool | None = None) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) made fully
    deterministic: every node starts as its own label; per round, each
    node adopts the label most frequent among its NEIGHBORS, ties
    broken by smallest label — the argmax is one keyed count plus one
    max(struct(count, -label)) fold, so no window sort and no
    randomness anywhere.  Synchronous update (all nodes flip on the
    same snapshot) with a FIXED round count: async/convergence variants
    are order-dependent by construction and cannot be oracle-checked.

    Per round: one edge⋈labels equi-join + two keyed aggs — work is
    O(edges), state is O(nodes); each round's labels are checkpointed
    so lineage stays flat (persist(MEMORY_AND_DISK) is the
    multi-executor drop-in).  Scale: identical shape to one PageRank
    round; label skew (a giant community's label on many keys) sits in
    the (node,label) count whose key includes the node — never a
    single hot key.

    Dual per-round regimes, the :func:`pagerank` recipe (r11
    optimization): when the O(nodes) label state fits the session
    broadcast threshold, the per-round join BROADCASTS the state
    (explicit hint — above the auto threshold the planner would fall
    back to SMJ and re-shuffle the edge table every round), so the
    O(edges) side is never exchanged after its one up-front
    materialization; otherwise the edge table is checkpointed
    hash-partitioned on the vote key and each round's labels on the
    node id, making the contribution join co-partitioned — the only
    per-round O(edges) exchange left is the (node, label) vote count's
    partial-agg output, the floor for message passing by key.
    Strategy choice never changes values — join strategy only."""
    # Materialize the edge list first: it feeds the node universe and
    # every round, and its size estimate fixes the one partition count
    # of the fallback regime's tables (see checkpoint_partitioned).
    sym = symmetrize(und).transform(materialize)
    n = partition_count(sym)
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .select("node", F.col("node").alias("label"))
              .transform(materialize))
    if broadcast_state is None:
        broadcast_state = fits_broadcast(labels, labels.count())
    if not broadcast_state:
        sym = checkpoint_partitioned(sym, "b", partitions=n)
        labels = checkpoint_partitioned(labels, "node", partitions=n)
    for _ in range(rounds):
        state = labels.withColumnRenamed("node", "b")
        votes = (sym.join(F.broadcast(state) if broadcast_state else state,
                          "b")
                 .select(F.col("a").alias("node"), "label"))
        counts = (votes.groupBy("node", "label")
                  .agg(F.count(F.lit(1)).alias("cnt")))
        new = (counts
               .groupBy("node")
               .agg(F.max(F.struct(F.col("cnt"),
                                   (-F.col("label")).alias("neg")))
                    .alias("m"))
               .select("node", (-F.col("m.neg")).alias("label")))
        labels = (new.transform(materialize) if broadcast_state
                  else checkpoint_partitioned(new, "node", partitions=n))
    return labels


def multi_seed_bfs_distances(und: DataFrame, seeds: DataFrame,
                             max_depth: int = 4) -> DataFrame:
    """Per-seed BFS distances to a bounded depth: ``(seed, node,
    depth)`` with depth = the min-hop distance from THAT seed (unlike
    :func:`bfs_layers`, which folds all seeds into one frontier).  The
    frontier/visited state is keyed by (seed, node), so k seeds cost
    one traversal with k-striped state, not k traversals — per round
    one frontier⋈edges equi-join plus one (seed, node) anti-join, work
    ∝ per-seed frontier-adjacent edges, checkpointed per round.

    The closeness-centrality primitive (and the landmark-distance
    sketch: at corpus scale pick O(log n) landmark seeds and
    approximate all-pairs distances through them)."""
    sym = symmetrize(und).transform(materialize)
    visited = (seeds.select(F.col("seed"), F.col("seed").alias("node"))
               .withColumn("depth", F.lit(0))
               .transform(materialize))
    frontier = visited.select("seed", "node")
    for d in range(1, max_depth + 1):
        nbrs = (frontier.join(sym, frontier["node"] == sym["a"])
                .select("seed", F.col("b").alias("node")).distinct())
        new = (nbrs.join(visited.select("seed", "node"),
                         ["seed", "node"], "left_anti")
               .withColumn("depth", F.lit(d))
               .transform(materialize))
        if new.isEmpty():
            break
        visited = visited.unionByName(new).transform(materialize)
        frontier = new.select("seed", "node")
    return visited


def hits(edges: DataFrame, iterations: int = 4,
         round_digits: int = 10) -> tuple[DataFrame, DataFrame]:
    """Kleinberg HITS (JACM 1999) over DIRECTED edges (src → dst):
    alternating hub/authority updates — a(p) = Σ h(s) over in-edges,
    h(s) = Σ a(p) over out-edges — sum-normalized and rounded to
    ``round_digits`` EVERY round (the pagerank float re-sync recipe:
    both engines round the same values, so summation-order noise
    never compounds).  Returns (hubs, authorities) as (node, score)
    frames over the nodes with out-/in-edges respectively.

    Scale: each half-round is one keyed join + partial-agg sum (work ∝
    edges), one 1-row total collect, state ∝ nodes — the same driver-
    loop shape as :func:`pagerank`."""
    edges = edges.select("src", "dst").distinct().transform(materialize)
    hubs = (edges.select(F.col("src").alias("node")).distinct()
            .select("node", F.lit(1.0).alias("h")))
    auths = None
    for _ in range(iterations):
        ra = (edges.join(hubs.select(F.col("node").alias("src"), "h"),
                         "src")
              .groupBy("dst")
              .agg(F.round(F.sum("h"), round_digits).alias("ra")))
        tot_a = ra.agg(F.sum("ra")).first()[0]
        auths = (ra.select(F.col("dst").alias("node"),
                           F.round(F.col("ra") / tot_a, round_digits)
                            .alias("a"))
                 .transform(materialize))
        rh = (edges.join(auths.select(F.col("node").alias("dst"), "a"),
                         "dst")
              .groupBy("src")
              .agg(F.round(F.sum("a"), round_digits).alias("rh")))
        tot_h = rh.agg(F.sum("rh")).first()[0]
        hubs = (rh.select(F.col("src").alias("node"),
                          F.round(F.col("rh") / tot_h, round_digits)
                           .alias("h"))
                .transform(materialize))
    return hubs, auths


def katz_centrality(edges: DataFrame, iterations: int = 4,
                    alpha: float = 0.05, beta: float = 1.0,
                    round_digits: int = 10) -> DataFrame:
    """Katz (Psychometrika 1953) centrality over a DIRECTED edge list:

        x_{k+1}(v) = beta + alpha * Σ_{u→v} x_k(u),   x_0(v) = beta

    — the attenuated-path-count centrality (node v's score sums every
    walk INTO v, a walk of length L weighted alpha^L), the classic
    member of the family PageRank normalizes and HITS splits; unlike
    PageRank it needs no out-degree division, so sinks and sources
    need no special casing.  ``alpha`` must be below 1/λ_max of the
    adjacency matrix for the infinite series to converge; the fixed-
    iteration form here is the truncated series both engines can
    replicate exactly.

    Plan shape per round: edges ⋈ state on src (keyed hash join) →
    dst-keyed partial-agg sum → node left-join (zero-indegree nodes
    keep the bare beta term).  Work ∝ edges per round, state ∝ nodes,
    both engines ROUND every round's scores to ``round_digits`` (the
    pagerank float re-sync recipe) so summation-order noise never
    compounds.  Edge list and per-round state are materialized
    (flat lineage across rounds).  Returns (node, x)."""
    # Materialize the edge list FIRST so the node-universe union reads
    # the pinned blocks instead of re-running the upstream edge build
    # once per branch (r12; same duplicate-subtree disease as the lazy
    # symmetrize sites -- see :func:`symmetrize`).
    e = edges.transform(materialize)
    nodes = (e.select(F.col("src").alias("node"))
             .unionAll(e.select(F.col("dst").alias("node")))
             .distinct().transform(materialize))
    x = nodes.withColumn("x", F.lit(float(beta)))
    for _ in range(iterations):
        s = (e.join(x.select(F.col("node").alias("src"), "x"), "src")
             .groupBy("dst")
             .agg(F.round(F.sum("x"), round_digits).alias("s")))
        x = (nodes.join(s.select(F.col("dst").alias("node"), "s"),
                        "node", "left")
             .select("node",
                     F.round(F.lit(float(beta))
                             + F.lit(float(alpha))
                             * F.coalesce("s", F.lit(0.0)),
                             round_digits).alias("x"))
             .transform(materialize))
    return x
