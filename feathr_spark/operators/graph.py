"""Graph centrality: weighted PageRank over an edge DataFrame.

Together with ``dedup.duplicate_components`` (connected components) this
covers the graph-analytics pair a data platform actually uses: cluster
membership and node importance. The reference has no graph operators
(its registry does lineage BFS driver-side over metadata,
``/root/reference/registry/registry-provider/src/registry.rs:83-88``);
ranking DATA-sized graphs — co-purchase networks, citation/link graphs,
near-dup similarity graphs — needs a distributed fixed-point loop.

Scale design mirrors the components loop: per-iteration cost is one
rank join + one contribution aggregate (two shuffles on node id), every
frame is node- or edge-sized, and scalar statistics (node count, dangling
mass) travel as broadcast single-row frames — never a driver collect.
Lineage is truncated LAZILY (r12): a frame the next round reads more
than once ends its round in ``localCheckpoint(eager=False)``, which cuts
the plan at once (without it the final plan embeds every prior round;
see the ``duplicate_components`` docstring for the measured blowup) but
materializes its blocks inside the next action that needs them — the
loop's convergence check where it has one, otherwise the caller's single
action — instead of in an eager job per round. A frame read once chains
as plain lineage, with a lazy checkpoint every few rounds bounding plan
growth. Each loop's docstring states its own policy.
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components of an undirected graph by alternating
    large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round rewires
    every node's neighborhood toward its local minimum, and the edge
    set provably converges in O(log n) rounds to stars centered at each
    component's minimum id — REGARDLESS of graph diameter. This is the
    general-graph complement to ``dedup.duplicate_components`` (min-
    label propagation, O(diameter) rounds — optimal for the clique-
    shaped duplicate clusters it targets, quadratic-round on long
    chains; its docstring defers exactly here).

    Per round: two window-min passes over the (bidirectional) edge
    list + one distinct — every frame edge-sized, partitioned by node
    id; convergence is detected from a (count, bit_xor of edge hashes)
    fingerprint, ONE scalar aggregate per round (no edge-set diff
    join). No driver collect ever sees an edge.

    Materialization policy (r12): each round ends in a LAZY
    ``localCheckpoint(eager=False)`` — the plan is truncated
    immediately (each round's logical plan embeds the previous round's
    subtree FOUR times via the union branches, so an untruncated loop
    grows 4^k and OOMs the driver around round 10), but the blocks
    materialize inside the fingerprint aggregate, which is now the ONE
    action per round. That halves the former eager-checkpoint-then-
    re-scan job pair (at scale the second cached scan is a full pass
    over the edge set; locally it was ~0.2 s of scheduler gap per
    round). The final readout is LAZY — label and size joins run in the
    caller's one action; checkpoint blocks are cleaned on GC.

    Output: (id, component, component_size) — component is the minimum
    node id of the component; isolated nodes (only self-loops / NULL
    partners dropped) map to themselves with size 1.
    """
    a0 = F.least(F.col(src), F.col(dst))
    b0 = F.greatest(F.col(src), F.col(dst))
    e = (edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()
                     & (F.col(src) != F.col(dst)))
         .select(a0.alias("__a"), b0.alias("__b"))
         .distinct().localCheckpoint(eager=False))
    # node set from the SEED edge set: the final left-join restores
    # isolated nodes that dropped out of the shrinking edge set. Single
    # consumer (that join), reading the seed checkpoint — no cache.
    nodes = (e.select(F.col("__a").alias("id"))
             .union(e.select(F.col("__b").alias("id")))
             .distinct())
    from pyspark.sql import Window
    wl = Window.partitionBy("__u")
    canon = [F.least(F.col("__x"), F.col("__y")).alias("__a"),
             F.greatest(F.col("__x"), F.col("__y")).alias("__b")]
    prev = None
    for _ in range(max_iters):
        bi = (e.select(F.col("__a").alias("__u"), F.col("__b").alias("__v"))
              .union(e.select(F.col("__b").alias("__u"),
                              F.col("__a").alias("__v"))))
        # large-star: every neighbor v > u links to min(N(u) ∪ {u})
        m = F.least(F.col("__u"), F.min("__v").over(wl))
        ls = (bi.select("__u", "__v", m.alias("__m"))
              .where(F.col("__v") > F.col("__u"))
              .select(F.col("__v").alias("__x"), F.col("__m").alias("__y"))
              .select(*canon)
              .where(F.col("__a") != F.col("__b")).distinct())
        # small-star over the rewired set: neighbors v < u (plus u
        # itself) all link to the local minimum
        bs = (ls.select(F.col("__a").alias("__u"), F.col("__b").alias("__v"))
              .union(ls.select(F.col("__b").alias("__u"),
                               F.col("__a").alias("__v"))))
        bs = bs.where(F.col("__v") < F.col("__u"))
        m2 = F.least(F.col("__u"), F.min("__v").over(wl))
        sm = bs.select("__u", "__v", m2.alias("__m"))
        out = (sm.select(F.col("__v").alias("__x"), F.col("__m").alias("__y"))
               .union(sm.select(F.col("__u").alias("__x"),
                                F.col("__m").alias("__y")))
               .select(*canon)
               .where(F.col("__a") != F.col("__b")).distinct())
        # lazy checkpoint: plan truncated NOW, blocks materialized by
        # the fingerprint aggregate — ONE pass and ONE job per round
        e = out.localCheckpoint(eager=False)
        row = e.agg(F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64("__a", "__b")).alias("h")).first()
        fp = (row["n"], row["h"])
        if fp == prev:
            break
        prev = fp
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iters} rounds "
            "(raise max_iters; expected O(log n))")
    # fixpoint edge set is stars (component_min, member): canonical __a
    # is the root; min-aggregate is belt-and-braces, each member appears
    # in exactly one star edge
    lab = (e.groupBy(F.col("__b").alias("id"))
           .agg(F.min("__a").alias("component")))
    labeled = (nodes.join(lab, "id", "left")
               .select("id", F.coalesce(F.col("component"), F.col("id"))
                       .alias("component"))
               .persist())  # 2 consumers: size aggregate + final join
    sizes = labeled.groupBy("component") \
        .agg(F.count(F.lit(1)).alias("component_size"))
    # LAZY readout: the caller's action runs the label/size joins in
    # one cascade instead of a checkpoint job + re-scan
    out = (labeled.join(sizes, "component")
           .select("id", "component",
                   F.col("component_size").cast("bigint")
                   .alias("component_size")))
    from feathr_spark.operators._cache import attach_intermediates
    return attach_intermediates(out, (labeled,))


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over an
    undirected graph given as an edge list (direction and duplicates are
    ignored; self-loops and NULL endpoints dropped).

    Scale design — degree-ordered orientation (the standard trick that
    makes distributed triangle counting survive power-law graphs): each
    undirected edge is oriented from its lower-(degree, id) endpoint to
    the higher one, so every triangle is generated EXACTLY ONCE from its
    minimum-rank vertex and, critically, wedge generation at a hub node
    of degree D costs O(out_deg²) where out-degree under this orientation
    is bounded by O(√|E|) for any graph — a plain a<b-id orientation
    leaves hub wedge counts at O(D²), which is the quadratic blowup that
    kills celebrity nodes in social graphs.

    Wedge generation (r12) is ROW-LOCAL: one groupBy(pivot) collects
    each pivot's out-neighbours as a rank-sorted array (bounded at
    O(√|E|) items by the orientation — the same bound the former
    self-join relied on), and the rank-ordered pairs explode from the
    array with the association-rules HOF double-transform. That replaces
    the oriented-edge self-join on the pivot (which shuffled the
    oriented frame TWICE — build and probe sides — plus paid the join
    machinery on every candidate pair) with ONE shuffle of the oriented
    frame and a narrow explode; the wedge set is identical because the
    array sort key is exactly the orientation rank (__dv, __v). Plan:
    two shuffles to rank the edges, one groupBy building the adjacency
    arrays, one equi-join closing the exploded wedges against the
    oriented edge set, one explode + count. No driver collects; every
    frame is node- or edge-sized except the wedge frame, which the
    orientation bounds. The result is LAZY (one job cascade at the
    caller's action); multi-consumer frames are lazy localCheckpoints.

    Output: (id, degree, triangles, clustering_coeff) — coefficient is
    2T/(d(d-1)), NULL for degree < 2 nodes.
    """
    a = F.least(F.col(src), F.col(dst))
    b = F.greatest(F.col(src), F.col(dst))
    # canonical undirected edge set: multiple consumers (degrees,
    # orientation join) -> persist (one materialization, columnar cache
    # + size stats; fills inside the caller's action)
    e = (edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()
                     & (F.col(src) != F.col(dst)))
         .select(a.alias("__a"), b.alias("__b"))
         .distinct().persist())
    deg = (e.select(F.col("__a").alias("id"))
           .union(e.select(F.col("__b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
           .persist())
    da = deg.select(F.col("id").alias("__a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("id").alias("__b"), F.col("degree").alias("__db"))
    # orient low-rank -> high-rank; rank = (degree, id) lexicographic
    lower_first = (F.col("__da") < F.col("__db")) | \
        ((F.col("__da") == F.col("__db")) & (F.col("__a") < F.col("__b")))
    o = (e.join(da, "__a").join(db, "__b")
         .select(
             F.when(lower_first, F.col("__a")).otherwise(F.col("__b"))
             .alias("__u"),
             F.when(lower_first, F.col("__b")).otherwise(F.col("__a"))
             .alias("__v"),
             F.when(lower_first, F.col("__db")).otherwise(F.col("__da"))
             .alias("__dv"))
         .persist())  # 2 consumers: adjacency + closing
    # wedges at the pivot u: unordered out-neighbor pairs (v, w) with
    # rank(v) < rank(w) so each wedge appears once. The adjacency array
    # is sorted by the orientation rank (__dv, __v), so ordered pairs
    # from the sorted array ARE the rank-ordered wedges — row-local,
    # no self-join (see docstring)
    adj = (o.groupBy("__u")
           .agg(F.array_sort(
               F.collect_list(F.struct("__dv", "__v"))).alias("__nb")))
    nb = F.col("__nb")
    wedge_pairs = F.flatten(F.transform(
        nb,
        lambda x, i: F.transform(
            F.slice(nb, i + 2, F.size(nb)),
            lambda y: F.struct(x["__v"].alias("v"), y["__v"].alias("w")))))
    wedges = (adj.select("__u", F.explode(wedge_pairs).alias("p"))
              .select("__u", F.col("p.v").alias("__v"),
                      F.col("p.w").alias("__w")))
    closing = o.select(F.col("__u").alias("__v"), F.col("__v").alias("__w"))
    tri = wedges.join(closing, ["__v", "__w"])
    per_node = (tri.select(F.explode(F.array("__u", "__v", "__w"))
                           .alias("id"))
                .groupBy("id").agg(F.count(F.lit(1)).alias("triangles")))
    d = F.col("degree").cast("double")
    out = (deg.join(per_node, "id", "left")
           .select("id", F.col("degree").cast("bigint").alias("degree"),
                   F.coalesce(F.col("triangles"), F.lit(0))
                   .cast("bigint").alias("triangles"),
                   F.when(F.col("degree") >= 2,
                          2.0 * F.coalesce(F.col("triangles"), F.lit(0))
                          / (d * (d - 1.0)))
                   .alias("clustering_coeff")))
    # LAZY result: one job cascade at the caller's action; caches
    # attached for release (_cache.release_intermediates / clearCache)
    from feathr_spark.operators._cache import attach_intermediates
    return attach_intermediates(out, (e, deg, o))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: Optional[str] = None,
    damping: float = 0.85,
    iters: int = 10,
    assume_no_dangling: bool = False,
) -> DataFrame:
    """Weighted PageRank with uniform teleport and dangling-mass
    redistribution: iterate

        r'(v) = (1−d)/N + d · ( Σ_{u→v} r(u)·w(u,v)/outw(u)
                                 + dangling_mass/N )

    for ``iters`` rounds from the uniform start r = 1/N. ``weight``
    None means every edge weighs 1; parallel edges simply add weight.
    Nodes = every id appearing as ``src`` or ``dst``; NULL endpoints
    are dropped. Edges with NULL, zero or negative weight are dropped
    row-locally before normalization: a 0-weight edge carries no mass
    by definition and negative mass is undefined for PageRank — and a
    node whose out-edges ALL have non-positive weight therefore counts
    as DANGLING (its rank spreads uniformly) instead of silently
    NULL-ing its ``w/outw`` fractions and leaking rank mass on the
    zero division. Dangling nodes (no out-edges) spread their rank
    uniformly — total rank stays 1 every round (the power-iteration
    invariant; asserted in tests, not renormalized away).

    Fixed iteration count, no convergence collect: at 100 TB a
    convergence test is another full pass per round — callers pick
    ``iters`` (10–20 is the usual plateau; rank deltas fall
    geometrically with ``d``).

    ``assume_no_dangling=True`` is the caller's assertion that EVERY
    node has at least one positive-weight out-edge (true by
    construction for symmetrized edge sets such as co-occurrence
    graphs): the dangling-mass term is then identically 0.0 and the
    per-round dangling join + aggregate + broadcast are skipped — one
    fewer scheduler job and one fewer broadcast barrier per round.
    Bit-safety of dropping the term: ranks and contributions are
    strictly positive (rank ≥ (1−d)/N from round 1, fracs > 0), so
    ``c + 0.0/N == c`` exactly in IEEE arithmetic — the output is
    bit-identical to the general path on any graph that satisfies the
    assertion (asserted in tests).

    Materialization policy (r12): the loop is LAZY — no per-round
    action; the caller's single action runs the whole iteration as one
    job cascade instead of paying a scheduler job + gap per round (the
    r11 eager-checkpoint variant's cost, ~0.1-0.2 s each). In the
    general path each round consumes the previous ranks TWICE
    (contribution join + dangling-mass aggregate), so each round ends
    in ``localCheckpoint(eager=False)``: the plan truncates immediately
    and the blocks — materialized inside the final action — serve both
    consumers (an uncached loop re-executes the prior round once per
    consumer — 2^k recompute after k rounds, measured ~9 s → ~13 s on a
    3-round sf0.1 run). In the ``assume_no_dangling`` path each round
    has exactly ONE consumer (the next round's contribution join), so
    rounds chain as pure lineage, with a lazy checkpoint every 8th
    round bounding plan growth for deep ``iters``. Loop-invariant
    frames (cleaned edges, nodes, out-weights, normalized edges) are
    lazy checkpoints rather than ``persist()`` for the same reason:
    one materialization each, but the per-round plans — which embed
    them several times — stay truncated at a leaf. The final ranks
    frame is checkpointed too (callers routinely fan it out to a
    count + readout). Checkpoint blocks are released by the context
    cleaner once the frames are garbage-collected.

    Output: (id, rank) — LAZY until the caller's first action.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError("pagerank: damping must be in (0, 1)")
    if iters < 1:
        raise ValueError("pagerank: iters must be >= 1")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    # persist the cleaned edge frame FIRST: nodes / out-weights /
    # normalized edges each consume it independently, and an uncached
    # upstream (e.g. a pair-generation pipeline feeding the graph)
    # would re-run once per derived frame — measured 4x the whole
    # co-occurrence pipeline on the driver query without this.
    # persist() over a checkpoint: columnar cache + known size stats
    # (broadcast planning); materializes inside the caller's action.
    e = (edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"),
                      w.alias("__w"))
         .where(F.col("__src").isNotNull() & F.col("__dst").isNotNull())
         .persist())
    # weight-positive edge frame: normalization + out-weights must only
    # see usable edges (w > 0, the docstring contract) — but the NODE
    # set keeps every endpoint of every edge, so a node with only
    # zero-weight out-edges still exists (as dangling) rather than
    # vanishing from the graph
    ep = e.where(F.col("__w") > 0)
    # node set + per-source out-weight: reused every round, cached once
    nodes = (e.select(F.col("__src").alias("id"))
             .union(e.select(F.col("__dst").alias("id")))
             .distinct().persist())
    outw = ep.groupBy("__src").agg(F.sum("__w").alias("__ow")).persist()
    nn = nodes.agg(F.count(F.lit(1)).alias("__n"))  # 1-row, broadcast

    d = float(damping)
    ranks = (nodes.crossJoin(F.broadcast(nn))
             .select("id", (F.lit(1.0) / F.col("__n")).alias("rank")))
    # normalized edges: contribution fraction w/outw is loop-invariant
    en = (ep.join(outw, "__src")
          .select("__src", "__dst", (F.col("__w") / F.col("__ow"))
                  .alias("__frac"))
          .persist())
    dangling_ids = None
    if not assume_no_dangling:
        dangling_ids = nodes.join(outw, nodes.id == outw.__src,
                                  "left_anti").persist()
        # init ranks feed round 1's contribution join AND dangling fold
        ranks = ranks.localCheckpoint(eager=False)
    for i in range(int(iters)):
        contrib = (en.join(ranks, en.__src == ranks.id)
                   .groupBy("__dst")
                   .agg(F.sum(F.col("rank") * F.col("__frac"))
                        .alias("__c")))
        new_ranks = (nodes
                     .join(contrib, nodes.id == contrib.__dst, "left")
                     .crossJoin(F.broadcast(nn)))
        if assume_no_dangling:
            # dm ≡ 0.0 and c > 0 (or the exact literal 0.0), so
            # d·(c + 0.0/N) == d·c bit-for-bit — see docstring
            rank_expr = ((1.0 - d) / F.col("__n")
                         + d * F.coalesce(F.col("__c"), F.lit(0.0)))
        else:
            dmass = (dangling_ids.join(ranks, "id")
                     .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                          .alias("__dm")))  # 1-row, broadcast
            new_ranks = new_ranks.crossJoin(F.broadcast(dmass))
            rank_expr = ((1.0 - d) / F.col("__n")
                         + d * (F.coalesce(F.col("__c"), F.lit(0.0))
                                + F.col("__dm") / F.col("__n")))
        ranks = new_ranks.select("id", rank_expr.alias("rank"))
        last = i == int(iters) - 1
        if not last and (not assume_no_dangling or (i + 1) % 8 == 0):
            # general path: consumed twice next round — checkpoint
            # blocks serve both consumers; no-dangling path: plan-size
            # guard only, every 8th round (values unchanged either way)
            ranks = ranks.localCheckpoint(eager=False)
    # callers fan the result out (count + readout): cache it, and
    # attach every internal cache for release after the final action
    ranks = ranks.persist()
    from feathr_spark.operators._cache import attach_intermediates
    deps = [e, nodes, outw, en, ranks]
    if dangling_ids is not None:
        deps.append(dangling_ids)
    return attach_intermediates(ranks, deps)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    score_join: str = "auto",
) -> DataFrame:
    """HITS (Kleinberg) hub/authority scores over a DIRECTED edge list
    — the natural ranking for bipartite interaction graphs (buyers →
    products, queries → documents): a good hub points at good
    authorities and vice versa. Iterate

        a(v) = Σ_{u→v} h(u)   then L1-normalize,
        h(u) = Σ_{u→v} a(v)   then L1-normalize

    from uniform h for a FIXED ``iters`` (same no-convergence-collect
    policy as :func:`pagerank`; scores plateau geometrically). L1
    normalization (not the textbook L2) keeps the oracle algebra in
    exact-sum territory and changes only the scale, never the ranking.

    Normalization happens ONCE, at the end: every per-round step is a
    linear map, so the textbook per-round rescale cancels exactly in
    real arithmetic — skipping it removes two broadcast folds, two
    domain left-joins, and two lineage checkpoints PER ROUND (measured
    12 s → ~4 s on the sf0.1 purchase bipartite at 3 iterations) while
    leaving the final L1-normalized vectors identical (floating-point
    drift lands far below the 4-dp readout). The uniform 1/|srcs| init
    is likewise a constant factor the final rescale cancels, so the
    iteration starts from 1.0 and never needs the node count. Overflow
    headroom: un-normalized scores grow ~(mean degree)² per round —
    3–5 rounds on any realistic degree stays far inside double range,
    and ``iters`` is capped at 20 (a graph would need a mean degree
    above ~10⁷ to overflow a double within the cap; HITS plateaus
    geometrically long before 20 rounds anyway). Callers that truly
    want more rounds should use per-round-normalized power iteration,
    not a deeper un-normalized chain.

    Plan: per round one join + aggregate per direction (shuffles on
    node id), every frame node- or edge-sized; the rounds form a
    LINEAR lineage chain (each iterate consumed exactly once), so no
    per-round checkpoint is needed — only the final authority frame is
    persisted (it feeds both the last hub step and the output).

    ``score_join`` picks the per-round edge⋈score join strategy
    (guide §3.1): ``"auto"`` (default) lets the planner/AQE broadcast
    the node-sized score frame — no edge-frame shuffle while it fits
    (bench scale); ``"shuffle_hash"`` hints SHUFFLE_HASH with the
    score frame as build side — the escape hatch once the node set
    outgrows the broadcast threshold (past it a broadcast is
    impossible and the fallback would be sort-merge's per-round edge
    sort). Measured at 30x bench scale (1M-node score frames, the
    broadcast limit's doorstep): cold runs showed ~1.4 s of
    single-threaded broadcast-relation build per stage (9 near-idle
    stages of the query's 27 s — why extra cores bought nothing
    there), but an interleaved warm-session A/B read auto 40.0/23.7 s
    vs shuffle_hash 30.8/23.6 s — parity at the min, so auto stays the
    default everywhere it can broadcast; strategies are
    result-identical (tested).

    Output: (id, hub, authority) for every node; a pure source has
    authority 0, a pure sink hub 0.
    """
    if iters < 1:
        raise ValueError("hits: iters must be >= 1")
    if score_join not in ("auto", "shuffle_hash"):
        raise ValueError("hits: score_join must be 'auto' or "
                         "'shuffle_hash'")
    if iters > 20:
        raise ValueError(
            "hits: iters capped at 20 — the end-normalized iteration "
            "grows un-normalized scores ~(mean degree)^2 per round, so "
            "arbitrarily deep chains risk double overflow; scores "
            "plateau geometrically well before 20 rounds")
    # callers that already persisted the edge frame (because they
    # consume it elsewhere too) keep their single cache — stacking a
    # second InMemoryRelation on top would re-materialize every row
    lvl = edges.storageLevel
    pre_cached = lvl.useMemory or lvl.useDisk
    e = (edges.select(F.col(src).alias("__u"), F.col(dst).alias("__v"))
         .where(F.col("__u").isNotNull() & F.col("__v").isNotNull()))
    if not pre_cached:
        e = e.persist()
    h = (e.select(F.col("__u").alias("id")).distinct()
         .withColumn("score", F.lit(1.0)))

    def _side(score_frame):
        return score_frame.hint("shuffle_hash") \
            if score_join == "shuffle_hash" else score_frame

    a = None
    for i in range(iters):
        a = (e.join(_side(h.withColumnRenamed("id", "__u")), "__u")
             .groupBy(F.col("__v").alias("id"))
             .agg(F.sum("score").alias("score")))
        if i == iters - 1:
            a = a.persist()
        h = (e.join(_side(a.withColumnRenamed("id", "__v")), "__v")
             .groupBy(F.col("__u").alias("id"))
             .agg(F.sum("score").alias("score")))
    tot_h = h.agg(F.sum("score").alias("__t"))
    tot_a = a.agg(F.sum("score").alias("__t"))
    hn = (h.crossJoin(F.broadcast(tot_h))
          .select("id", (F.col("score") / F.col("__t")).alias("hub")))
    an = (a.crossJoin(F.broadcast(tot_a))
          .select("id",
                  (F.col("score") / F.col("__t")).alias("authority")))
    out = (e.select(F.col("__u").alias("id"))
           .union(e.select("__v")).distinct()
           .join(hn, "id", "left")
           .join(an, "id", "left")
           .select("id",
                   F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                   F.coalesce(F.col("authority"), F.lit(0.0))
                   .alias("authority"))
           .localCheckpoint())
    if not pre_cached:
        e.unpersist()
    a.unpersist()
    return out


def degree_powerlaw(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    dmin: int = 2,
) -> DataFrame:
    """Power-law tail fit of the (undirected) degree distribution:
    the Clauset-Shalizi-Newman discrete MLE

        alpha = 1 + n_tail / Σ_{d_i ≥ dmin} ln(d_i / (dmin − 0.5))

    — the standard "is this graph scale-free, and how heavy is the
    hub tail" readout that decides whether skew mitigations (the
    degree-ordered orientation in :func:`triangle_stats`, salting)
    are load-bearing or paranoia. One degree aggregate + one fold;
    ln sums are order-independent enough at readout precision.

    Output (one row): n_nodes, n_tail, dmin, alpha, max_degree —
    alpha NULL when no node reaches dmin.
    """
    e = (edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()
                     & (F.col(src) != F.col(dst)))
         .select(F.least(F.col(src), F.col(dst)).alias("__a"),
                 F.greatest(F.col(src), F.col(dst)).alias("__b"))
         .distinct())
    deg = (e.select(F.col("__a").alias("id"))
           .union(e.select(F.col("__b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("__d")))
    d = F.col("__d").cast("double")
    tail = F.when(F.col("__d") >= dmin,
                  F.log(d / (float(dmin) - 0.5)))
    folded = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.count(tail).cast("bigint").alias("n_tail"),
        F.sum(tail).alias("__s"),
        F.max("__d").cast("bigint").alias("max_degree"))
    alpha = F.when(F.col("__s") > 0,
                   1.0 + F.col("n_tail") / F.col("__s"))
    return folded.select("n_nodes", "n_tail",
                         F.lit(int(dmin)).cast("bigint").alias("dmin"),
                         alpha.alias("alpha"), "max_degree")


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation between the degrees at the two ends of every
    undirected edge. Positive = hubs link to hubs (social nets),
    negative = hub-and-spoke (the typical co-purchase shape).

    ``edges`` carries each undirected edge ONCE as (src, dst); the
    operator symmetrizes internally so both orientations contribute.
    Plan: one endpoint-degree aggregate, two key joins to attach the
    endpoint degrees (degree frame is node-sized), then ONE fold —
    every moment (n, Σx, Σy, Σxy, Σx², Σy²) is an exact integer sum
    (degrees are ints), so the coefficient is bit-stable at any
    parallelism. NULL when degenerate (all degrees equal).
    """
    e = edges.select(F.col("src").alias("__a"), F.col("dst").alias("__b"))
    sym = e.unionByName(
        e.select(F.col("__b").alias("__a"), F.col("__a").alias("__b")))
    sym = sym.persist()
    deg = sym.groupBy("__a").agg(F.count(F.lit(1)).alias("__d"))
    j = (sym
         .join(deg.select(F.col("__a").alias("__sa"),
                          F.col("__d").alias("__dx")),
               F.col("__a") == F.col("__sa"))
         .join(deg.select(F.col("__a").alias("__sb"),
                          F.col("__d").alias("__dy")),
               F.col("__b") == F.col("__sb")))
    agg = j.agg(
        F.count(F.lit(1)).alias("__m"),
        F.sum("__dx").alias("__sx"), F.sum("__dy").alias("__sy"),
        F.sum(F.col("__dx") * F.col("__dy")).alias("__sxy"),
        F.sum(F.col("__dx") * F.col("__dx")).alias("__sx2"),
        F.sum(F.col("__dy") * F.col("__dy")).alias("__sy2"))
    nodes = deg.agg(F.count(F.lit(1)).alias("__nodes"))
    out = agg.crossJoin(F.broadcast(nodes))
    m = F.col("__m").cast("double")
    cov = m * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = m * F.col("__sx2") - F.col("__sx") * F.col("__sx")
    vy = m * F.col("__sy2") - F.col("__sy") * F.col("__sy")
    r = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    res = out.select(
        (F.col("__m") / 2).cast("bigint").alias("n_edges"),
        F.col("__nodes").cast("bigint").alias("n_nodes"),
        r.cast("double").alias("assortativity"))
    from feathr_spark.operators._cache import attach_intermediates
    return attach_intermediates(res, (sym,))


def modularity(edges: DataFrame, assign: DataFrame,
               node_col: str = "id", comm_col: str = "community"
               ) -> DataFrame:
    """Newman modularity Q of a given node partition over an
    undirected graph:

        Q = sum_c [ e_c / m  -  (d_c / 2m)^2 ]

    (e_c = within-community edges, d_c = total degree of community c,
    m = |edges|). The quality gate for ANY community assignment —
    label-propagation output, brand/category groupings, dedup
    clusters.

    ``edges`` carries each undirected edge once; nodes missing from
    ``assign`` are dropped (both endpoints must map). Plan: two
    node-sized map joins onto the edge list, one community aggregate
    (within-edges + degree sums fold together), one final fold —
    degrees are exact integers throughout. Output: 1 row
    ``(m_edges, n_comms, modularity)``.
    """
    a = assign.select(F.col(node_col).alias("__n"),
                      F.col(comm_col).alias("__c"))
    e = (edges.select(F.col("src").alias("__a"), F.col("dst").alias("__b"))
         .join(a.select(F.col("__n").alias("__a"),
                        F.col("__c").alias("__ca")), "__a")
         .join(a.select(F.col("__n").alias("__b"),
                        F.col("__c").alias("__cb")), "__b"))
    e = e.persist()
    m = e.agg(F.count(F.lit(1)).alias("__m"))
    # per-community: within-edges and total degree (each edge adds 1
    # degree to each endpoint's community — 2 to its own when within)
    deg = (e.select(F.col("__ca").alias("__c"),
                    (F.col("__ca") == F.col("__cb")).cast("long")
                    .alias("__w"))
           .unionByName(
               e.select(F.col("__cb").alias("__c"),
                        F.lit(0).cast("long").alias("__w")))
           .groupBy("__c")
           .agg(F.count(F.lit(1)).alias("__d"),
                F.sum("__w").alias("__within")))
    out = (deg.crossJoin(F.broadcast(m))
           .select(((F.col("__within").cast("double")
                     / F.col("__m").cast("double"))
                    - (F.col("__d").cast("double")
                       / (2.0 * F.col("__m").cast("double")))
                    * (F.col("__d").cast("double")
                       / (2.0 * F.col("__m").cast("double"))))
                   .alias("__q"),
                   F.col("__m").alias("__m"))
           .agg(F.first("__m").alias("__m"),
                F.count(F.lit(1)).alias("__k"),
                F.sum("__q").alias("__mod")))
    res = out.select(
        F.col("__m").cast("bigint").alias("m_edges"),
        F.col("__k").cast("bigint").alias("n_comms"),
        F.col("__mod").cast("double").alias("modularity"))
    from feathr_spark.operators._cache import attach_intermediates
    return attach_intermediates(res, (e,))


def kcore_peel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 4,
    survivor_join: str = "auto",
) -> DataFrame:
    """Fixed-round k-core peel over an UNDIRECTED graph: repeatedly
    drop nodes of degree < k (``rounds`` times) and return the nodes
    that survive, with their residual degree — the dense-substructure
    filter behind spam-ring and community-nucleus detection.

    Fixed rounds, not run-to-fixpoint, by the same policy as
    :func:`pagerank`/:func:`hits`: no convergence collect in the loop,
    deterministic cost, and an engine-portable oracle (the peel
    unrolls to ``rounds`` SQL CTE stages). A graph whose peel hasn't
    converged after ``rounds`` simply reports the partially-peeled
    residual — callers needing the exact core raise ``rounds``
    (diameter-bounded; peel cascades longer than ~4 hops are rare on
    heavy-tailed graphs).

    Plan per round: one degree aggregate (map-side combined — a hub's
    edges never concentrate) + two key-side semi joins against the
    NODE-sized survivor frame. Directed input is symmetrized once up
    front; self-loops are dropped.

    Materialization policy (r12): the rounds are LAZY — each round's
    shrinking edge frame ends in ``localCheckpoint(eager=False)``,
    which truncates the logical plan immediately (each round embeds the
    previous round's subtree three times — degree aggregate + both
    semi-join probes — so an untruncated loop grows 3^k) while
    deferring materialization to the caller's single action: the whole
    fixed-round peel runs as one job cascade instead of paying a
    scheduler job + gap per round. The checkpoint blocks double as the
    per-round cache, so the three next-round consumers compute each
    round once.

    ``survivor_join`` picks the per-round semi-join strategy against
    the node-sized survivor frame (guide §3.1):

    * ``"auto"`` (default): leave it to the planner/AQE — at bench
      scale the survivor frame broadcasts and the edge frame never
      shuffles (the fastest local plan, measured 2.7 s vs 3.1-3.5 s
      hinted at sf0.1);
    * ``"shuffle_hash"``: hint SHUFFLE_HASH with the survivor frame as
      build side — the PRODUCTION value once survivors outgrow the
      broadcast threshold: past it the planner falls back to
      sort-merge, paying a full sort of the edge frame per join per
      round (30x-scale profile: ~18 s/round, all sort; one run died in
      GC-thrash under the sort's memory pressure while the hinted
      shuffled-hash run completed — the build side is ids-only and
      node-sized per partition, so the hash build is safe at any
      scale).
    """
    if k < 1 or rounds < 1:
        raise ValueError("kcore_peel: k and rounds must be >= 1")
    if survivor_join not in ("auto", "shuffle_hash"):
        raise ValueError("kcore_peel: survivor_join must be 'auto' or "
                         "'shuffle_hash'")
    half = (edges.select(F.col(src).alias("__u"), F.col(dst).alias("__v"))
            .where(F.col(src).isNotNull() & F.col(dst).isNotNull()
                   & (F.col(src) != F.col(dst))))
    e = half.union(half.select(F.col("__v").alias("__u"),
                               F.col("__u").alias("__v"))) \
        .distinct().localCheckpoint(eager=False)
    for _ in range(rounds):
        keep = (e.groupBy("__u").agg(F.count(F.lit(1)).alias("__d"))
                .where(F.col("__d") >= int(k))
                .select("__u"))
        if survivor_join == "shuffle_hash":
            keep = keep.hint("shuffle_hash")
        e = (e.join(keep, "__u", "semi")
             .join(keep.withColumnRenamed("__u", "__v"), "__v", "semi")
             .select("__u", "__v")
             .localCheckpoint(eager=False))
    return (e.groupBy(F.col("__u").alias("id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("degree")))
