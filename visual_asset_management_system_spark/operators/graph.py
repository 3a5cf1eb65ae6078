"""Asset-link graph operators.

Reference semantics (assetLinksService.py:207-405):
- 1-hop: edges out ∪ edges in, endpoint attributes joined, classified
  related / parent / child by direction+type;
- descendants: recursive DFS over parentChild edges with per-branch
  cycle detection, authorization at each node.

Spark re-expression: the 1-hop is one filtered scan of the edges that
emits a row per matching direction;
descendants is an iterative frontier-expansion BFS with an accumulated
visited set (Spark has no native recursion — SURVEY §7 "Hard parts"),
depth-capped (default 25). Each iteration is one join; the visited
anti-join provides cycle safety. At 100 TB the frontier stays small
relative to the edge table, so the per-level join broadcasts the
frontier — and the loop materializes the frontier per level via
localCheckpoint to cut lineage growth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .checkpointing import maybe_checkpoint


def one_hop(
    asset_links: DataFrame,
    database_id: str,
    asset_id: str,
    assets: DataFrame | None = None,
    auth_predicate: Column | None = None,
) -> DataFrame:
    """All neighbors of one asset, classified (related/parent/child).

    Child  = parentChild edge out of the asset;
    Parent = parentChild edge into the asset;
    Related = `related` edge either direction.

    With ``assets``, each neighbor row is enriched with the endpoint
    asset's attributes (``neighbor_name`` — the batch-get +
    AssetNodeModel join of assetLinksService.py:235-315). With
    ``auth_predicate`` (a Column over the asset attributes, see
    operators.authz), an ``authorized`` boolean is added — a neighbor
    missing from the assets table counts as unauthorized, exactly like
    the reference's ``if other_asset and check_asset_permission(...)``
    guard. Scale shape: the filtered edge set for one node is tiny, so
    the join against assets broadcasts the edge side.
    """
    frm = (F.col("from_database_id") == database_id) & (
        F.col("from_asset_id") == asset_id
    )
    to = (F.col("to_database_id") == database_id) & (
        F.col("to_asset_id") == asset_id
    )
    is_pc = F.col("relationship_type") == "parentChild"

    def side(cond: Column, end: str, pc_label: str) -> Column:
        return F.when(cond, F.struct(
            F.col("asset_link_id"),
            F.col(f"{end}_database_id").alias("neighbor_database_id"),
            F.col(f"{end}_asset_id").alias("neighbor_asset_id"),
            F.when(is_pc, F.lit(pc_label)).otherwise(F.lit("related")).alias(
                "relationship"
            ),
        ))

    # ONE scan of the edges for both directions: each matching edge
    # yields its out-row (asset is the source → neighbor is the target)
    # and/or its in-row; a self-loop matches both sides and yields both,
    # exactly like the out ∪ in union this replaces. A NULL endpoint
    # makes that side's condition NULL, which neither filters in nor
    # yields a row.
    neighbors = (
        asset_links.filter(frm | to)
        .select(F.explode(F.array_compact(F.array(
            side(frm, "to", "child"), side(to, "from", "parent"),
        ))).alias("_n"))
        .select("_n.*")
    )
    if assets is None:
        return neighbors

    dim_cols = [
        F.col("database_id").alias("neighbor_database_id"),
        F.col("asset_id").alias("neighbor_asset_id"),
        F.col("asset_name").alias("neighbor_name"),
    ]
    if auth_predicate is not None:
        # evaluate over the asset's own column names, before aliasing
        dim_cols.append(auth_predicate.alias("_authz"))
    dim = assets.select(*dim_cols)
    # Spark can only broadcast the BUILD side, and an outer join can
    # never build its preserved side — so neither `neighbors LEFT dim`
    # with broadcast(neighbors) nor `dim RIGHT broadcast(neighbors)`
    # broadcasts (the hint is silently dropped and the full assets
    # table shuffles per lookup). Instead: left-semi the dim down to
    # the tiny neighbor key set (broadcast keys as the build side),
    # then LEFT OUTER with the now-tiny filtered dim as the broadcast
    # build side. Both joins are broadcast; the assets table is never
    # shuffled. The semi join's build side needs no distinct: a
    # duplicate key cannot duplicate a left-semi output row.
    keys = ["neighbor_database_id", "neighbor_asset_id"]
    dim_hits = dim.join(F.broadcast(neighbors.select(*keys)), keys, "left_semi")
    enriched = neighbors.join(F.broadcast(dim_hits), keys, "left")
    if auth_predicate is not None:
        enriched = enriched.withColumn(
            "authorized", F.coalesce(F.col("_authz"), F.lit(False))
        ).drop("_authz")
    return enriched


def link_auth_counts(one_hop_enriched: DataFrame) -> DataFrame:
    """Per-relationship-class authorized / unauthorized totals — the
    ``unauthorizedCounts`` aggregate of assetLinksService.py:250-331
    (UnauthorizedCountsModel: related / parents / children), computed as
    one map-side-combinable aggregation over the enriched 1-hop rows."""
    return one_hop_enriched.groupBy("relationship").agg(
        F.sum(F.when(F.col("authorized"), 1).otherwise(0)).alias(
            "authorized_count"
        ),
        F.sum(F.when(F.col("authorized"), 0).otherwise(1)).alias(
            "unauthorized_count"
        ),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) over an undirected edge set — component = the
    minimum node id reachable from the node.

    The near-dup dedup ENDGAME: pair generators (minhash / simhash /
    embedding buckets) emit edges; duplicate CLUSTERS are this
    function's components; the canonical representative is the MIN doc
    per component. Also the related-asset cluster view of the link
    graph.

    Spark has no native recursion (same constraint as
    :func:`descendants`), so this is iterative min-label propagation
    accelerated with pointer jumping: each round every node takes
    ``min(own label, neighbors' labels, label(label))`` — the last term
    doubles the hop distance per round, so convergence is O(log
    diameter) rounds, not O(diameter) (a 1000-node chain converges in
    ~10 rounds). Each round: one aggregation on the (persisted,
    symmetrized) edges + one self-join of the label table, both keyed
    on node; localCheckpoint truncates lineage; early exit when no
    label changes. The early-exit signal is a ``_changed`` column
    computed INSIDE the label-update projection (the old label is
    already in scope there), so the exit probe is a filter+isEmpty
    over the just-checkpointed round output — the r14 measurement
    found the previous form's separate nxt-vs-labels equality JOIN
    was one full extra join per round for information the update
    already had (A/B: 12.1 s -> 8.4 s at sf0.1, identical labels)."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(maybe_checkpoint)
    )
    try:
        for _ in range(max_iter):
            neighbor_min = (
                sym.join(labels, sym["b"] == labels["node"])
                .groupBy("a")
                .agg(F.min("label").alias("_nmin"))
            )
            jump = (
                labels.alias("l1")
                .join(
                    labels.alias("l2"),
                    F.col("l1.label") == F.col("l2.node"),
                )
                .select(
                    F.col("l1.node").alias("node"),
                    F.col("l2.label").alias("_jmin"),
                )
            )
            new_label = F.least(
                F.col("label"),
                F.coalesce(F.col("_nmin"), F.col("label")),
                F.col("_jmin"),
            )
            nxt = (
                labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
                .select("node", "label", "_nmin")
                .join(jump, "node")
                .select(
                    "node",
                    new_label.alias("label"),
                    (new_label != F.col("label")).alias("_changed"),
                )
                .transform(maybe_checkpoint)
            )
            no_change = nxt.filter(F.col("_changed")).isEmpty()
            labels = nxt.select("node", "label")
            if no_change:
                break
        return labels.withColumnRenamed("label", "component")
    finally:
        sym.unpersist()


def graph_export(assets: DataFrame, asset_links: DataFrame) -> DataFrame:
    """Knowledge-graph export (the garnetFramework addon,
    handlers/addon/garnetFramework/): the catalog as one property-graph
    dataset — node rows (one per asset, label + display name) and edge
    rows (one per link, typed), in a single tall frame a graph store
    bulk-loads. Composite ``db:id`` node keys exist only in this export
    shape; engine plans keep the parts as columns."""
    nodes = assets.select(
        F.lit("node").alias("record_type"),
        F.concat_ws(":", "database_id", "asset_id").alias("id"),
        F.lit(None).cast("string").alias("src"),
        F.lit(None).cast("string").alias("dst"),
        F.lit("asset").alias("label"),
        F.col("asset_name").alias("name"),
    )
    edges = asset_links.select(
        F.lit("edge").alias("record_type"),
        F.col("asset_link_id").alias("id"),
        F.concat_ws(":", "from_database_id", "from_asset_id").alias("src"),
        F.concat_ws(":", "to_database_id", "to_asset_id").alias("dst"),
        F.col("relationship_type").alias("label"),
        F.lit(None).cast("string").alias("name"),
    )
    return nodes.unionByName(edges)


def create_links(
    existing: DataFrame, candidates: DataFrame
) -> DataFrame:
    """Edge-create constraint checks (createAssetLink.py:73-190;
    models/assetLinks.py:30-35) as one declarative plan — each candidate
    edge annotated with a ``status``:

    - ``self_link``          — from == to (never allowed);
    - ``alias_not_allowed``  — aliasId on a non-parentChild link;
    - ``duplicate``          — related: same pair EITHER direction;
                               parentChild: same directed pair with the
                               same (''-normalized) alias;
    - ``reverse_exists``     — parentChild whose reverse directed pair
                               exists under ANY alias (would be a cycle
                               of length 2);
    - ``ok``                 — insertable.

    Scale shape: four distinct-key left joins against pre-projected
    views of the existing edges — no row multiplication, no cross join;
    the candidate batch is small (an API write batch) so every join
    broadcasts it.
    """
    keys = [
        "from_database_id", "from_asset_id",
        "to_database_id", "to_asset_id",
    ]
    rev = {
        "from_database_id": "to_database_id",
        "from_asset_id": "to_asset_id",
        "to_database_id": "from_database_id",
        "to_asset_id": "from_asset_id",
    }
    ex = existing
    if "alias_id" not in ex.columns:
        ex = ex.withColumn("alias_id", F.lit(None).cast("string"))
    ex_alias = F.coalesce(F.col("alias_id"), F.lit(""))
    is_rel = F.col("relationship_type") == "related"
    is_pc = F.col("relationship_type") == "parentChild"

    same_rel = (
        ex.filter(is_rel).select(*keys).distinct()
        .withColumn("_dup_rel", F.lit(True))
    )
    rev_rel = (
        ex.filter(is_rel)
        .select(*[F.col(rev[k]).alias(k) for k in keys]).distinct()
        .withColumn("_rev_rel", F.lit(True))
    )
    same_pc = (
        ex.filter(is_pc)
        .select(*keys, ex_alias.alias("_c_alias")).distinct()
        .withColumn("_dup_pc", F.lit(True))
    )
    rev_pc = (
        ex.filter(is_pc)
        .select(*[F.col(rev[k]).alias(k) for k in keys]).distinct()
        .withColumn("_rev_pc", F.lit(True))
    )

    c_alias = F.coalesce(F.col("alias_id"), F.lit(""))
    c = candidates.withColumn("_c_alias", c_alias)
    out = (
        c.join(same_rel, keys, "left")
        .join(rev_rel, keys, "left")
        .join(same_pc, [*keys, "_c_alias"], "left")
        .join(rev_pc, keys, "left")
    )
    status = (
        F.when(
            (F.col("from_database_id") == F.col("to_database_id"))
            & (F.col("from_asset_id") == F.col("to_asset_id")),
            "self_link",
        )
        .when(F.col("alias_id").isNotNull() & ~is_pc, "alias_not_allowed")
        .when(
            is_rel
            & (F.col("_dup_rel").isNotNull() | F.col("_rev_rel").isNotNull()),
            "duplicate",
        )
        .when(is_pc & F.col("_dup_pc").isNotNull(), "duplicate")
        .when(is_pc & F.col("_rev_pc").isNotNull(), "reverse_exists")
        .otherwise("ok")
    )
    return out.withColumn("status", status).select(
        *candidates.columns, "status"
    )


def descendants(
    asset_links: DataFrame,
    database_id: str,
    asset_id: str,
    max_depth: int = 25,
    use_checkpoint: bool = True,
    levels_per_round: int = 3,
    dedup_guard_factor: float = 4.0,
    dedup_guard_abs_factor: float = 64.0,
    _stats_out: dict | None = None,
) -> DataFrame:
    """Descendant set over parentChild edges: (database_id, asset_id,
    depth) with shortest-depth semantics and cycle safety.

    BFS with an accumulated visited set; a node re-reached through a
    cycle or a diamond is anti-joined away, so each node appears once at
    its minimum depth. Divergence from the reference's unbounded DFS is
    the documented depth cap.

    FRONTIER BATCHING: the sf1/sf3 soak measured this query's cost as
    100% fixed per-level driver latency (scaling exponent −0.15 — the
    work *shrinks* relative to data), so the loop expands
    ``levels_per_round · 2^round`` levels inside ONE driver round
    (geometric growth: O(log depth) rounds on a deep chain; an
    overshoot past the true depth only joins empty frontiers within
    the same action), then checkpoints and emptiness-checks the
    round's union ONCE. Within a
    round there is NO per-level exclusion — g_i is simply
    neighbors(g_{i−1}) — because chaining anti-joins against the
    accumulating union nests each sub-frontier's plan inside the next
    one's TWICE (source + exclusion side), i.e. 2^batch plan copies:
    measured 3× slower at batch 5, not faster. Instead the round's
    union dedups to each node's MINIMUM in-round depth (one groupBy)
    and takes ONE anti-join against visited — linear plan growth.
    Shortest-depth and cycle safety are preserved exactly: a node
    re-reached within the round keeps its min depth, one already
    visited is anti-joined away, and re-expanding a visited node's
    neighbors inside the round only produces more already-visited
    rows for the same anti-join (the randomized equivalence test pins
    batched ≡ unbatched across uneven batch/depth splits).

    ROUND-14: per-level ``dropDuplicates`` removed by default. Each
    in-round level used to dedup its frontier (a hash-agg Exchange —
    a stage boundary per LEVEL whose scheduling latency was, per the
    soak, this query's entire cost); the round's min-depth groupBy is
    the only dedup now, so a round of b levels pays b broadcast
    joins + ONE shuffle instead of b of each (planted-geometry A/B:
    0.62× on the bench fixture, identical rows on chain / diamond /
    tree / fixture — scripts/probe3_r14.py at commit 4c8971f). The
    per-level dedup was also the safety bound against in-round
    PATH-MULTIPLICITY blowup (a node reachable via k in-round paths
    now produces k rows that keep multiplying through deeper levels — 2^levels on stacked
    diamonds), so the round's stats action additionally sums per-node
    in-round path counts: when duplication (paths/nodes) exceeds
    ``dedup_guard_factor`` the remaining rounds — the geometrically
    LARGER ones — fall back to per-level dedup. Geometric batching
    makes the guard cheap and early: diamond density is detected in
    the small rounds (≤9 levels) before the large rounds could
    amplify it; the residual exposure is one round (≤
    ``levels_per_round·2^rounds`` levels) of duplication on a graph
    whose diamonds first appear past the guarded rounds — bounded by
    the depth cap, and only ever a cost concern, never correctness
    (the round's groupBy collapses multiplicity before any row leaves
    the round; the guard changes WHERE dedup happens, never what the
    round emits).

    ROUND-15 guard hardening (cost-only; row semantics untouched):
    (1) the guard signal is read BEFORE the visited exclusion — the
    visited anti-join is now a marker left-join so the same single
    stats action counts arrivals that reconverge onto already-visited
    nodes (back-edges), which the r14 form was blind to; (2) an
    absolute tripwire ``dedup_guard_abs_factor`` also flips the guard
    when a round's raw arrival count exceeds that multiple of every
    node discovered so far — a round can multiply paths enormously
    while keeping arrivals/nodes under ``dedup_guard_factor`` only if
    its node count is itself huge relative to the known graph, which
    is exactly the blowup case. Both tripwires stay dormant on
    benign geometry (root fan-out of k children gives paths = n ≪
    64·(visited+n)).
    """
    edges = asset_links.filter(
        F.col("relationship_type") == "parentChild"
    ).select(
        F.col("from_database_id").alias("src_db"),
        F.col("from_asset_id").alias("src_id"),
        F.col("to_database_id").alias("dst_db"),
        F.col("to_asset_id").alias("dst_id"),
    )
    # the edge relation is re-scanned once per BFS level: materialize it
    # once (its derivation — view SQL + parquet scan — is the per-level
    # fixed cost otherwise; at depth d that's d redundant scans)
    edges = edges.persist()
    spark = asset_links.sparkSession
    frontier = spark.createDataFrame(
        [(database_id, asset_id, 0)], "database_id string, asset_id string, depth int"
    )
    visited = frontier

    def step(f: DataFrame, depth: int, dedup: bool) -> DataFrame:
        out = (
            F.broadcast(f)
            .join(
                edges,
                (f["database_id"] == edges["src_db"])
                & (f["asset_id"] == edges["src_id"]),
            )
            .select(
                F.col("dst_db").alias("database_id"),
                F.col("dst_id").alias("asset_id"),
                F.lit(depth).alias("depth"),
            )
        )
        if dedup:
            # guard-triggered only: dedup each level's frontier (the
            # hash-agg Exchange is the stage boundary the dedup-free
            # path exists to avoid); the post-shuffle coalesce(1)
            # kills the 32-empty-task overhead each level would pay
            out = out.dropDuplicates(["database_id", "asset_id"]).coalesce(1)
        return out

    depth = 0
    rounds = 0
    per_level_dedup = False
    visited_n = 1  # the root; tracked for the absolute guard tripwire
    try:
        while depth < max_depth:
            # geometric growth: round r expands levels_per_round·2^r
            # levels, so a diameter-D expansion costs O(log D) driver
            # rounds instead of D/batch (the soak pinned per-round
            # latency as this query's ENTIRE cost). Overshooting the
            # true depth wastes only joins against empty frontiers,
            # executed inside the same single action; the plan the
            # round's checkpoint cuts stays linear in its batch size.
            batch = min(
                max(1, levels_per_round) * (2 ** rounds),
                max_depth - depth,
            )
            g = frontier
            acc: DataFrame | None = None
            for i in range(1, batch + 1):
                g = step(g, depth + i, per_level_dedup)
                acc = g if acc is None else acc.unionByName(g)
            # LEFT join with a marker instead of left_anti (r15, cost
            # only — row set unchanged): the guard's duplication signal
            # must see arrivals that reconverge onto ALREADY-VISITED
            # nodes (back-edges into earlier levels), which a left_anti
            # drops before the stats action can count them. Keeping the
            # marked rows lets ONE action read both the exit stats
            # (over new nodes) and the guard signal (over every
            # in-round arrival); ``nxt`` filters the marker afterwards,
            # which is definitionally the anti-join's row set (visited
            # is unique per node, so the left join never duplicates).
            grouped = (
                acc.groupBy("database_id", "asset_id")
                .agg(
                    F.min("depth").alias("depth"),
                    # in-round path multiplicity, read by the guard in
                    # the SAME stats action the exits already pay for
                    F.count(F.lit(1)).alias("_paths"),
                )
                .join(
                    visited.select("database_id", "asset_id").withColumn(
                        "_seen", F.lit(True)
                    ),
                    ["database_id", "asset_id"],
                    "left",
                )
                .coalesce(1)
            )
            if use_checkpoint:
                grouped = grouped.transform(maybe_checkpoint)
            # ONE bounded action decides BOTH exits: total new nodes
            # (loop done) and the round's deepest new depth. Only the
            # round's DEEPEST layer can still have unexplored
            # neighbors (shallower new nodes were expanded in-round) —
            # when it produced nothing, break NOW rather than let the
            # next round discover it: with geometric batching the
            # wasted round would be the largest one (2× this round's
            # levels of empty joins). Folding the max into the same
            # 1-row aggregate makes the early exit FREE in the
            # non-checkpoint path too — the old separate
            # frontier.isEmpty() probe re-executed the round's whole
            # chained-join lineage there, which cost more than the
            # empty round it saved (so it used to be checkpoint-gated,
            # and the non-checkpoint path paid the full extra round).
            new = F.col("_seen").isNull()
            stats = grouped.agg(
                F.count(F.when(new, F.lit(1))).alias("n"),
                F.max(F.when(new, F.col("depth"))).alias("deepest"),
                F.sum("_paths").alias("paths"),
                F.count(F.lit(1)).alias("nodes"),
            ).collect()[0]
            if stats["n"] == 0:
                break
            if not per_level_dedup and stats["paths"] is not None:
                # ratio guard: in-round arrivals per distinct in-round
                # node — reconvergence onto visited nodes now counts in
                # BOTH terms, so back-edge floods trip it (r15; the r14
                # form read only post-anti-join rows and was blind to
                # them). Absolute tripwire alongside (r15): a round
                # whose raw arrival count dwarfs everything discovered
                # so far is a blowup even at a modest per-node ratio —
                # bounds the dedup-free round's output relative to the
                # graph actually seen, not just to the round's own
                # node count.
                if stats["paths"] > dedup_guard_factor * stats["nodes"] or (
                    stats["paths"]
                    > dedup_guard_abs_factor * (visited_n + stats["n"])
                ):
                    per_level_dedup = True
            nxt = grouped.filter(new).select(
                "database_id", "asset_id", "depth"
            )
            visited = visited.unionByName(nxt)
            visited_n += stats["n"]
            frontier = nxt.filter(F.col("depth") == depth + batch)
            depth += batch
            rounds += 1
            if depth < max_depth and stats["deepest"] < depth:
                break
    finally:
        edges.unpersist()
    if _stats_out is not None:
        # test/diagnostic plumbing only — never read by query paths
        _stats_out["rounds"] = rounds
        _stats_out["guard_tripped"] = per_level_dedup
    # exclude the root itself (the reference returns the subtree below it)
    return visited.filter(F.col("depth") > 0)


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
    round_digits: int = 6,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Fixed-iteration PageRank as an iterative DataFrame loop:
    (node, rank) over the nodes appearing in ``edges``.

    Per iteration: contributions rank/outdeg flow along edges, are
    summed per target with order-independent decimal accumulation (the
    engine's cross-engine _dsum convention — float sums must not depend
    on partitioning), dangling mass (rank parked on nodes with no
    out-edges) is redistributed uniformly via a broadcast 1-row frame
    (in-plan — no per-iteration driver round-trip), and every node gets
    (1-d)/N + d·(inflow + dangling/N). An eager localCheckpoint every
    ``checkpoint_every`` iterations cuts lineage — without any cut the
    plan depth grows linearly and analysis cost quadratically (the
    standard iterative-algorithm discipline on Spark; GraphX
    materializes likewise), while cutting EVERY iteration pays one
    driver action per step for a cost that is almost entirely fixed
    scheduler latency (the BFS frontier-batching finding, applied
    here). NOTE the growth between cuts is EXPONENTIAL, not linear:
    each iteration references ``ranks`` twice (the contribution join
    and the dangling-mass aggregate), so k un-checkpointed iterations
    embed ~2^k copies of the per-iteration subplan — 2 per cut is the
    measured sweet spot (A/B: every-iteration and every-5 both
    slower), and values larger than 4 are refused rather than let a
    latency-tuning caller hand Catalyst a 2^10-node plan. Checkpoint
    placement cannot change values — each step is a deterministic
    function of the previous ranks.

    N (node count) is read once up front — one scalar job, unavoidable
    for the teleport term.

    Round-14 loop-invariant hoist (guide-§2.4 class, measured 16.2 s
    -> 10.1 s A/B at sf0.1 with bit-identical ranks): the contribution
    denominator join ``edges x outdeg`` is the same every iteration,
    so it is materialized ONCE up front (``eo``) instead of re-joining
    outdeg inside the loop — 10 fewer edge-table joins per run, and at
    cluster scale 10 fewer shuffles of the full edge relation; and the
    dangling-node set is STATIC (a node's out-degree never changes),
    so ``nodes`` carries a precomputed ``has_out`` flag and the
    per-iteration dangling-mass aggregate becomes a filter over ranks
    instead of a ranks-vs-outdeg anti-join. Both rewrites preserve the
    per-edge contribution values and the decimal-sum accumulation
    exactly (order-independent sums), so rank values are unchanged
    bit-for-bit; ``ranks`` is still referenced exactly twice per
    iteration (contribs + the dangling filter), keeping the 2^k
    between-cut growth analysis above valid.
    """
    if not 1 <= checkpoint_every <= 4:
        raise ValueError(
            f"checkpoint_every={checkpoint_every}: plan size grows "
            f"~2^checkpoint_every between cuts (ranks is referenced "
            f"twice per iteration) — use 1-4"
        )
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # loop-invariant: every iteration divides rank by the same
    # per-edge out-degree — attach it once, not once per iteration
    eo = maybe_checkpoint(e.join(outdeg, "src"))
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
        .join(
            outdeg.select(F.col("src").alias("node"), F.lit(True).alias("_o")),
            "node",
            "left",
        )
        .select("node", F.col("_o").isNotNull().alias("has_out"))
        .transform(maybe_checkpoint)
    )
    n = nodes.count()

    teleport = (1.0 - damping) / n
    n_f = float(n)
    ranks = nodes.select("node", "has_out", F.lit(1.0 / n).alias("rank"))
    for it in range(iters):
        contribs = eo.join(ranks, eo["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("outdeg")).alias("c"),
        )
        gathered = contribs.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(38,18)")).cast("double").alias("s")
        )
        dang = ranks.filter(~F.col("has_out")).agg(
            F.coalesce(
                F.sum(F.col("rank").cast("decimal(38,18)")).cast("double"),
                F.lit(0.0),
            ).alias("dang")
        )
        ranks = (
            nodes.join(gathered, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "has_out",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.col("dang") / F.lit(n_f))
                ).alias("rank"),
            )
        )
        if (it + 1) % max(1, checkpoint_every) == 0 or it == iters - 1:
            ranks = ranks.transform(maybe_checkpoint)
    return ranks.select("node", F.round("rank", round_digits).alias("rank"))


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count of the undirected link graph — the
    clustering/cohesion metric next to connected_components and
    pagerank in the graph tier (reference surface: the asset-link
    graph, assetLinksService.py; the reference exposes traversals, the
    analytic metrics are the Spark-side extension).

    Shape: edges are canonicalized to a < b (LEAST/GREATEST — kills
    direction duplicates and self-loops), then DEGREE-ORIENTED: every
    edge points from its lower-(degree, id) endpoint to the higher one,
    and wedges are enumerated only at the low end (the standard exact
    O(m^1.5) node-iterator refinement). Each triangle is counted
    exactly once — at its unique minimum-(degree, id) corner, whose two
    incident edges both orient outward — and a celebrity hub of degree
    d generates ~0 wedges instead of d²: under this orientation every
    out-degree is O(√m) regardless of skew, which is what makes the
    Σ outdeg² wedge surface survive a skewed 100 TB graph (the
    unoriented b-centered join is Σ deg² — one hub at 10⁵ would
    materialize 10¹⁰ wedges). Both joins remain equi-joins on node
    keys; the closing check is a semi-join against the canonical edge
    set."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    o = orient_by_degree(e)
    wedges = o.alias("o1").join(
        o.alias("o2"),
        (F.col("o1.u") == F.col("o2.u")) & (F.col("o1.v") < F.col("o2.v")),
    ).select(F.col("o1.v").alias("x"), F.col("o2.v").alias("y"))
    closed = wedges.join(
        e.alias("e3"),
        (F.col("x") == F.col("e3.a")) & (F.col("y") == F.col("e3.b")),
        "left_semi",
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def orient_by_degree(e: DataFrame) -> DataFrame:
    """Orient canonical undirected edges ``(a, b)`` from the
    lower-(degree, id) endpoint to the higher: returns ``(u, v)`` with
    ``(deg(u), u) < (deg(v), v)``. The (degree, id) key is a strict
    total order over nodes (ids are distinct), so orientation is
    deterministic and acyclic; max out-degree under it is O(√m), the
    property triangle_count's wedge surface relies on. Two
    node-cardinality equi-joins attach degrees — AQE picks the
    strategy (the degree table is |nodes|-sized; never assume it
    broadcasts)."""
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ed = e.join(
        deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b")), "b"
    )
    a_first = F.struct(F.col("deg_a"), F.col("a")) < F.struct(
        F.col("deg_b"), F.col("b")
    )
    return ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def jaccard_link_prediction(
    edges: DataFrame,
    src: str = "from_asset_id",
    dst: str = "to_asset_id",
    max_degree: int | None = None,
) -> DataFrame:
    """Neighbor-Jaccard link prediction — "assets you might want to
    link": for every pair sharing >= 1 neighbor in the undirected view
    of the edge list, |common neighbors| / |union of neighbors|
    (assetLinks traversals expose the graph; the scoring is the
    Spark-side extension; oracle at queries.py q_vams_link_jaccard).

    Returns ``(node_a, node_b, n_common bigint, jaccard double)``,
    unordered.

    The pair surface materializes ONLY through shared neighbors (a
    co-neighbor self-join, never a cross product); per-neighbor cost is
    degree², the classic hub-skew surface. ``max_degree`` is the skew
    guard: neighbors above the cap are excluded from pair GENERATION
    (a super-node's deg² pair flood says little about any single pair
    anyway — the same cap-don't-explode policy as the LSH band join's
    max_bucket_size), while degrees for the Jaccard denominator still
    count every edge, so surviving pairs keep their true score."""
    und = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .unionAll(edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
        .distinct()
    )
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    gen = und
    if max_degree is not None:
        nbr_deg = deg.select(
            F.col("node").alias("nbr"), F.col("degree").alias("nbr_degree")
        )
        # node-cardinality join — equi-join on nbr, AQE picks the
        # strategy (the degree table is |nodes|-sized; never assume it
        # broadcasts)
        gen = (
            und.join(nbr_deg, "nbr")
            .filter(F.col("nbr_degree") <= max_degree)
            .select("node", "nbr")
        )
    rhs = gen.select(F.col("node").alias("node_b"), F.col("nbr").alias("nbr_b"))
    common = (
        gen.join(
            rhs, (F.col("nbr") == F.col("nbr_b")) & (F.col("node") < F.col("node_b"))
        )
        .groupBy(F.col("node").alias("node_a"), "node_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"), F.col("degree").alias("deg_b"))
    jac = F.floor(
        (
            F.col("n_common").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
        )
        * 1000000
        + 0.5
    ) / 1000000
    return (
        common.join(da, "node_a")
        .join(db, "node_b")
        .select("node_a", "node_b", "n_common", jac.alias("jaccard"))
    )
