"""Graph analytics over DataFrame edge lists.

The reference has no graph surface at all (analytical composition was
delegated to Hadoop/Pig — SURVEY.md §2.6); connected-components grouping
already lives in ``dedup.dup_groups_star``. This module adds the other
workhorse a web-scale corpus pipeline needs: PageRank, used for
link-graph quality weighting of crawled documents (the CommonCrawl-style
harmonic/PageRank centrality signal).

**Integer-exact discipline.** Classic PageRank iterates double sums whose
value depends on addition order across partitions — unreproducible
between engines. Here ranks live in integer MICRO-units (1.0 ==
1_000_000), the damping factor is a rational (85/100 by default), and
every per-edge contribution is a bigint floor-division — all arithmetic
is integer, so the fixpoint is bit-exact in any engine that replays it
(the same discipline as ``text.unigram_logprob``'s micro-quantization).
Cost: each division truncates up to 1 micro-unit of mass; over a few
iterations the drift is < iters × micro, far below any ranking decision
threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 25,
) -> DataFrame:
    """Weakly-connected components of an (undirected-interpreted) edge
    list → ``(node, component)``, component id = the component's minimum
    node. Thin graph-API front for the alternating large-star/small-star
    implementation in :func:`dedup.dup_groups_star` (Kiveris et al.,
    SoCC'14 — O(log n) rounds regardless of component diameter); see its
    docstring for the scale analysis. Lives there because duplicate-group
    closure is its production caller; exposed here so the graph surface
    (pagerank / hits / components) is one import. Node ids must be
    NUMERIC (the underlying fixpoint signature is arithmetic over ids);
    hash or dictionary-encode string ids first."""
    from apache_cassandra_spark.analytics.dedup import dup_groups_star

    out = dup_groups_star(edges, id_a=src_col, id_b=dst_col, max_iters=max_iters)
    return out.select(F.col("id").alias("node"), F.col("group_id").alias("component"))


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, ``iters`` fixed
    synchronous iterations from a uniform start (every node 1.0).

    Update rule (all integer arithmetic, see module docstring)::

        contrib(s→d) = (rank_micro[s] * w(s,d)) div out_weight[s]
        rank_micro[d] = base + (damping_num * Σ contrib) div damping_den
        base          = (MICRO * (damping_den − damping_num)) div damping_den

    Dangling nodes (no out-edges) keep receiving the base term but their
    mass is not redistributed — the standard simplification when ranks
    are used as a relative quality signal rather than a probability
    distribution. Nodes with no in-edges settle at ``base``.

    Returns ``(node, rank_micro, rank)`` — ``rank`` is the micro value
    scaled back to a double, rounded to 6 places for display.

    Scale shape: per iteration, one equality join of the edge list with
    the rank table on ``src`` and one hash-aggregate on ``dst`` — the
    Pregel message shape, partial (map-side) combinable since the
    per-edge contributions sum with plain bigint ``sum``. Hot pages
    (celebrity in-degree) are hot *aggregation* keys, not join-explosion
    keys. The edge list (annotated with out-weights) is reused every
    iteration — persist it for many-iteration runs; at the default 3
    iterations ReuseExchange already shares the scan. Overflow bound:
    ``n_nodes × MICRO × max_weight`` must stay inside int64 — loud at
    ~10^9 nodes with 1000-weight edges, far beyond a per-job graph.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not (0 < damping_num < damping_den):
        raise ValueError("need 0 < damping_num < damping_den")
    base = (MICRO * (damping_den - damping_num)) // damping_den

    w = F.col(weight_col) if weight_col else F.lit(1)
    # a NULL endpoint is not a node: drop the edge rather than growing a
    # phantom NULL vertex whose join key never matches itself
    e0 = (
        edges.where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .groupBy(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .agg(F.sum(w).cast("long").alias("w"))
    )
    outw = e0.groupBy("src").agg(F.sum("w").alias("wout"))
    e = e0.join(outw, "src")
    nodes = (
        e0.select(F.col("src").alias("node"))
        .union(e0.select(F.col("dst").alias("node")))
        .distinct()
    )

    ranks = nodes.select("node", F.lit(MICRO).cast("long").alias("r"))
    for it in range(iters):
        if it == 0:
            # round-1 shortcut (guide §2.4 remove shuffles / §8 use what
            # the optimizer cannot know): the uniform start means
            # rank(src) == MICRO for EVERY edge (e.src ⊆ nodes by
            # construction, and nodes is distinct, so the inner join
            # matched each edge exactly once) — contribute
            # (MICRO * w) div wout directly and skip one full
            # edge⋈rank-table shuffle out of `iters`. Bit-identical:
            # same bigint arithmetic over the same rows.
            contribs = (
                e.select(
                    F.col("dst").alias("node"),
                    F.expr(f"(cast({MICRO} as bigint) * w) div wout").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("s"))
            )
        else:
            contribs = (
                e.join(ranks, e["src"] == ranks["node"])
                .select(F.col("dst").alias("node"), F.expr("(r * w) div wout").alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("s"))
            )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping_num} * coalesce(s, 0L)) div {damping_den}")
            )
            .cast("long")
            .alias("r"),
        )

    return ranks.select(
        "node",
        F.col("r").alias("rank_micro"),
        F.round(F.col("r") / MICRO, 6).alias("rank"),
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iters: int = 2,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    undirected view of an edge list, ``iters`` fixed rounds →
    ``(node, community)``. Completes the graph family: components find
    *connectivity*, PageRank/HITS find *centrality*, label propagation
    finds *density* — clusters of pages denser inside than out (topic
    hubs in a crawl graph, template families in a near-dup graph).

    Classic LPA is notoriously nondeterministic (random update order,
    random tie-breaks). This variant is replayable by construction:

    * labels start as the node id;
    * each round EVERY node simultaneously adopts the label with the
      largest total incident edge weight among its neighbors' current
      labels — ties broken by the SMALLEST label (min over an orderable
      column, not a coin flip);
    * isolated direction (a node with no neighbors cannot occur here —
      every node is on an edge) and self-loops just vote for the node's
      own label.

    Fixed ``iters`` + synchronous update + total-order tie-break = one
    deterministic answer any engine reproduces exactly. (Synchronous LPA
    can oscillate between two labelings on bipartite-ish structure;
    with fixed ``iters`` the output is still exact — oscillation is a
    property of the algorithm, not a reproducibility hazard.)

    Plan shape: one lazy plan; the builder runs no job and nothing is
    checkpointed. The undirected edge table ``und`` is hash-partitioned
    by ``u`` once, and every aggregate after it groups by ``u`` first, so
    no other edge-sized exchange follows as long as the label table is
    broadcast. Round 1's votes are ``und`` itself (labels start as the
    node id, and ``und`` has one row per ``(u, v)``). Each round's label
    is ONE argmax aggregate, ``min(struct(~Σw, label))`` grouped by ``u``
    (``~x = -x-1`` orders by the largest weight sum, then the smallest
    label, and cannot overflow): a SortAggregate whose partial and final
    steps run in one stage, since ``und``'s partitioning by ``u``
    already satisfies it, so no window sorts a celebrity node's votes. A
    vote whose weight sum is NULL never wins. Later rounds join the
    node-sized label table on ``v`` (AQE broadcasts it when small) and
    sum the votes by ``(u, label)``; both aggregates reuse ``und``'s
    partitioning. The plan grows by one join and two aggregates per
    round; no caller uses more than 3 rounds.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    w = F.col(weight_col) if weight_col else F.lit(1)
    directed = edges.where(
        F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
    ).select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"), w.cast("long").alias("w"))
    und = (
        directed.unionByName(
            directed.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        )
        .repartition("u")
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )
    votes = und.select("u", F.col("v").alias("label"), F.col("w").alias("_wsum"))
    for it in range(iters):
        if it:
            votes = (
                und.join(labels, und["v"] == labels["node"])
                .groupBy("u", "label")
                .agg(F.sum("w").alias("_wsum"))
            )
        labels = (
            votes.where(F.col("_wsum").isNotNull())
            .groupBy("u")
            .agg(F.min(F.struct(F.bitwise_not("_wsum"), "label")).alias("_best"))
            .select(F.col("u").alias("node"), F.col("_best.label").alias("label"))
        )
    return labels.select("node", F.col("label").alias("community"))


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iters: int = 2,
) -> DataFrame:
    """HITS hubs-and-authorities over a directed edge list, ``iters``
    fixed synchronous iterations — the complementary centrality to
    :func:`pagerank`: a good HUB points at good authorities, a good
    AUTHORITY is pointed at by good hubs. On a crawl graph, authority
    ranks content pages while PageRank conflates them with navigational
    hubs.

    Integer-exact variant (module docstring discipline): scores live in
    micro-units and each half-step max-normalizes by integer division —
    ``a = (a_raw * MICRO) div max(a_raw)`` — instead of the classic L2
    norm, whose square root is a float no two engines reproduce. Update
    per iteration::

        a_raw(d) = Σ_{s→d} h(s)·w(s,d)      then max-normalize to MICRO
        h_raw(s) = Σ_{s→d} a(d)·w(s,d)      then max-normalize to MICRO

    Max-normalization pins the top hub/authority at exactly ``MICRO``
    and keeps every score in ``[0, MICRO]`` — same fixpoint ordering as
    L2 for ranking purposes. Nodes outside the edge direction (pure
    sources have authority 0; pure sinks have hub 0) stay in the output.

    Returns ``(node, hub_micro, auth_micro, hub, authority)``.

    Scale shape: two join+hash-aggregate passes per iteration (the same
    Pregel message shape as PageRank) plus one scalar ``max`` aggregate
    per half-step (a broadcastable single row — no second shuffle). Each
    normalized score table is eagerly ``localCheckpoint``-ed (it is
    node-count-sized): the scalar max is an execution barrier anyway,
    and without the cut every half-step would RE-EXECUTE the entire
    upstream lineage — measured 30s → ~6s on a 100k-edge graph at
    iters=2. Same eager-loop pattern as ``dedup.dup_groups_star``.
    Overflow bound: scores ≤ MICRO, so a node's raw aggregate is ≤
    MICRO × its total incident weight, and normalization multiplies by
    MICRO again — int64 holds iff every node's total in- OR out-weight
    is ≤ ``(2^63−1) / MICRO²`` ≈ 9.2e6. ENFORCED UP FRONT with one
    aggregate over the checkpointed edge table (guarding only at
    normalization would miss the Σ(h·w) aggregate itself wrapping
    first); rescale edge weights (e.g. log-counts) for hotter graphs.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    w = F.col(weight_col) if weight_col else F.lit(1)
    # the eager half-step loop touches e 2x and nodes 2x per iteration —
    # checkpoint both once instead of re-deriving the edge aggregation
    # from the input every barrier
    e = (
        edges.where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .groupBy(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .agg(F.sum(w).cast("long").alias("w"))
        # lazy (r14): the int64-ceiling probe below is the first action
        # and materializes the cut in the same job
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    # int64 safety must be checked BEFORE any aggregate runs: with
    # scores <= MICRO, both the per-node raw sum (<= MICRO x incident
    # weight) and its x MICRO normalization stay inside int64 iff every
    # node's total in- or out-weight is <= (2^63-1)/MICRO^2. Guarding
    # only at normalization would let the sum itself wrap first and
    # hand the guard an innocent-looking garbage max.
    _weight_ceiling = (2**63 - 1) // (MICRO * MICRO)
    # in- and out-weight bound SEPARATELY: auth sums are bounded by
    # in-weight, hub sums by out-weight — summing both directions into
    # one total would reject graphs ~2x inside the real ceiling (and
    # double-count self-loops)
    # ONE job for both directional ceilings (r14): tag each edge end with
    # its direction and aggregate (direction, node) — the in/out sums stay
    # separate (summing them together would reject graphs ~2x inside the
    # real ceiling), but the two scalar maxes share a single job launch
    directional = e.select(F.lit("i").alias("_dir"), F.col("dst").alias("node"), "w").unionByName(
        e.select(F.lit("o").alias("_dir"), F.col("src").alias("node"), "w")
    )
    mx_row = (
        directional.groupBy("_dir", "node")
        .agg(F.sum("w").alias("tw"))
        .agg(F.max("tw").alias("mx"))
        .first()
    )
    mx_w = (mx_row["mx"] if mx_row else 0) or 0
    if mx_w > _weight_ceiling:
        raise ValueError(
            f"hits: a node's total directional weight {mx_w} exceeds the "
            f"int64-safe ceiling {_weight_ceiling}; rescale edge weights "
            "(e.g. log-counts)"
        )

    def _normalize(scores: DataFrame) -> DataFrame:
        """(node, raw) -> (node, s) with max pinned to MICRO (integer).
        Eagerly materialized: see the lineage-cut note in the docstring."""
        mx = scores.agg(F.max("raw").alias("_mx"))
        return (
            scores.crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.when(F.col("_mx") > 0, F.expr(f"(raw * {MICRO}) div _mx"))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("s"),
            )
            .localCheckpoint(eager=True)
        )

    # hubs start uniform at MICRO; round 1's authority half-step uses the
    # algebraic shortcut below instead of joining this constant table
    hubs = nodes.select("node", F.lit(MICRO).cast("long").alias("s"))
    auths = None
    for it in range(iters):
        if it == 0:
            # round-1 shortcut (guide §2.4/§8): hub(src) == MICRO for
            # every edge (e.src ⊆ nodes, nodes distinct — the inner join
            # matched each edge exactly once), so the first
            # edge⋈hub-table shuffle is an identity. Bit-identical
            # bigint arithmetic on the same rows.
            a_raw = (
                e.select(
                    F.col("dst").alias("node"),
                    (F.lit(MICRO).cast("long") * F.col("w")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("raw"))
            )
        else:
            a_raw = (
                e.join(hubs, e["src"] == hubs["node"])
                .select(F.col("dst").alias("node"), (F.col("s") * F.col("w")).alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("raw"))
            )
        auths = _normalize(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce("raw", F.lit(0)).alias("raw")
            )
        )
        h_raw = (
            e.join(auths, e["dst"] == auths["node"])
            .select(F.col("src").alias("node"), (F.col("s") * F.col("w")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("raw"))
        )
        hubs = _normalize(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce("raw", F.lit(0)).alias("raw")
            )
        )

    return (
        nodes.join(hubs.withColumnRenamed("s", "hub_micro"), "node")
        .join(auths.withColumnRenamed("s", "auth_micro"), "node")
        .select(
            "node",
            "hub_micro",
            "auth_micro",
            F.round(F.col("hub_micro") / MICRO, 6).alias("hub"),
            F.round(F.col("auth_micro") / MICRO, 6).alias("authority"),
        )
    )


def _undirected_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Canonical simple undirected edge set ``(lo, hi)`` shared by the
    structural operators (triangles, k-core): NULL-endpoint edges and
    self-loops dropped, parallel and reversed duplicates collapsed. One
    definition so the operators' notion of "the simple graph" cannot
    drift (the ``!=`` filter alone already drops NULL rows — NULL
    comparisons are never true — but the explicit guard keeps the
    NULL-edge policy loud)."""
    return (
        edges.where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .where(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(src_col, dst_col).alias("lo"),
            F.greatest(src_col, dst_col).alias("hi"),
        )
        .distinct()
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected-interpreted edge list
    → ``(node, n_triangles)`` for every node of the simple graph
    (self-loops dropped, multi-edges collapsed). Exact and
    engine-replayable — pure joins and integer counts, no floats.

    Scale shape — **degree-ordered orientation** (Chiba–Nishizeki
    compact-forward; the MapReduce analysis is Suri & Vassilvitskii,
    WWW'11 "Counting Triangles and the Curse of the Last Reducer"):
    every edge is directed from the endpoint of lower ``(degree, id)``
    rank to the higher, so each node's OUT-degree is bounded by
    O(sqrt(m)) on any graph (arboricity bound) — the wedge join
    ``e1(u→v) ⋈ e2(u→w)`` that dominates cost then generates
    Σ outdeg(u)² = O(m^1.5) wedges worst-case instead of the
    Σ deg(hub)² blowup a raw id-ordering suffers on power-law graphs
    (the "last reducer" holding the hub). The closing-edge check is one
    more equi-join, co-partitioned on the (v, w) pair. Each triangle is
    generated exactly once (its rank-minimal apex), then exploded to its
    three corners for the per-node roll-up.

    All three joins shuffle on keys the optimizer sees (node id, then
    the pair), AQE broadcasts the rank map when small; nothing is
    quadratic in nodes, nothing collects.
    """
    und = _undirected_edges(edges, src_col, dst_col)
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionByName(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orientation rank: (degree, id) — total order, no window needed (the
    # pair itself is the rank); comparison is lexicographic on the struct
    rank_of = lambda side: F.struct(F.col(f"deg_{side}").alias("d"), F.col(side).alias("i"))  # noqa: E731
    ranked = (
        und.join(deg.select(F.col("node").alias("lo"), F.col("deg").alias("deg_lo")), "lo")
        .join(deg.select(F.col("node").alias("hi"), F.col("deg").alias("deg_hi")), "hi")
        .select(
            F.when(rank_of("lo") < rank_of("hi"), F.col("lo")).otherwise(F.col("hi")).alias("u"),
            F.when(rank_of("lo") < rank_of("hi"), F.col("hi")).otherwise(F.col("lo")).alias("v"),
            # deg_v rides along for the in-wedge ordering; the apex's own
            # degree is not needed past this point
            F.when(rank_of("lo") < rank_of("hi"), F.col("deg_hi")).otherwise(F.col("deg_lo")).alias("deg_v"),
        )
    )
    dir_e = ranked.select("u", "v", "deg_v")
    # wedges at apex u: pairs of out-neighbors (v, w) with rank(v) < rank(w)
    left = dir_e.select(F.col("u"), F.col("v"), F.col("deg_v"))
    right = dir_e.select(F.col("u"), F.col("v").alias("w"), F.col("deg_v").alias("deg_w"))
    wedge_lt = (F.struct(F.col("deg_v").alias("d"), F.col("v").alias("i"))
                < F.struct(F.col("deg_w").alias("d"), F.col("w").alias("i")))
    wedges = left.join(right, "u").where(wedge_lt).select("u", "v", "w")
    # close the wedge: directed edge v→w exists iff {v, w} is an edge
    closing = dir_e.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tris = wedges.join(closing, ["v", "w"], "left_semi")
    corners = (
        tris.select(F.col("u").alias("node"))
        .unionByName(tris.select(F.col("v").alias("node")))
        .unionByName(tris.select(F.col("w").alias("node")))
    )
    counts = corners.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    return (
        deg.select("node")
        .join(counts, "node", "left")
        .select("node", F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"))
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int | None = None,
    max_iters: int = 50,
) -> DataFrame:
    """k-core decomposition peel over an undirected-interpreted edge list
    → ``(node, degree)`` for every node of the k-core subgraph (degree =
    the node's degree *within* the core). The k-core is the maximal
    subgraph in which every node has degree >= k — the standard dense-
    region extractor (Seidman 1983; distributed peel analysis in
    Montresor et al., "Distributed k-Core Decomposition", PODC'11):
    community kernels in link graphs, template/boilerplate cluster cores
    in dedup candidate graphs, spam-farm detection.

    Semantics knobs:

    * ``rounds=None`` (production): peel to convergence — drop all
      nodes with degree < k, recompute degrees, repeat until stable
      (at most ``max_iters`` rounds; raises if not converged, loud like
      the dup_groups_star fixpoint).
    * ``rounds=N`` (replay): at most N peel rounds — the loop still
      stops early once the survivor set is stable, because a peel at
      fixpoint is idempotent (keep = all survivors; both semi-joins are
      identity), so skipped trailing rounds are provably no-ops and the
      result equals a literal N-round unroll. Bit-exact in any engine
      that unrolls the same N rounds — the oracle-gate mode (an
      unrolled SQL CTE chain replays all N levels), same
      bounded-replay discipline as ``cluster_inertia``'s Lloyd unroll.

    Exact and engine-replayable: pure integer degrees, no floats, no
    ordering sensitivity.

    Scale shape: per round, one hash-aggregate on node id (map-side
    combinable count) and two semi-joins of the symmetric edge list
    against the survivor set — both on the node-id key the aggregate
    just used. No forced broadcast anywhere (survivor sets start at
    |V| — corpus-sized); AQE broadcasts the survivor side when it
    shrinks below the threshold, which it does monotonically as the
    peel proceeds. ``localCheckpoint`` cuts lineage each round (the
    dup_groups_star pattern — without it round r re-executes all
    r-1 prior rounds at every action). Round count is bounded: real
    peels converge in a handful of rounds (degeneracy ordering), and
    the loop is O(E) work per round — the PODC'11 message-passing
    shape, not a per-node sequential peel.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    und = _undirected_edges(edges, src_col, dst_col)
    # symmetric view: one row per (node, neighbor) direction, so degree
    # is a plain count on the first column. Checkpoint LAZY — the count
    # right below materializes it in the same job instead of paying a
    # separate eager-checkpoint job first (r14; same merge per round)
    sym = (
        und.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        .unionByName(und.select(F.col("hi").alias("a"), F.col("lo").alias("b")))
        .localCheckpoint(eager=False)
    )

    n_prev = sym.count()
    # an empty edge set is a fixpoint too — tracked as `converged` the
    # moment a round produces it, so emptying the graph exactly on the
    # final allowed round is not misreported as non-convergence
    converged = n_prev == 0
    bounded = rounds is not None
    for _ in range(rounds if bounded else max_iters):
        if converged:
            break
        keep = (
            sym.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("a").alias("node"))
        )
        sym = (
            sym.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
        n_now = sym.count()
        converged = n_now == n_prev or n_now == 0
        n_prev = n_now
    if not bounded and not converged:
        raise RuntimeError(f"k_core did not converge in {max_iters} rounds")

    return (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def coreness(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int | None = None,
    max_iters: int = 100,
) -> DataFrame:
    """Full k-core DECOMPOSITION → ``(node, coreness)``: each node's core
    number, the largest k for which it survives the k-core peel. One run
    replaces |k| separate :func:`k_core` calls when the whole hierarchy
    is needed (corpus-quality tiers, community nesting depth).

    Algorithm: distributed h-index refinement (Montresor, De Pellegrini,
    Miorandi, "Distributed k-Core Decomposition", PODC'11). Every node
    starts at its degree; each round it re-estimates as the H-INDEX of
    its neighbors' current estimates (the largest h such that at least h
    neighbors claim >= h). Estimates are integers, start >= coreness,
    and only ever DECREASE, so the fixpoint is exactly the coreness
    vector and convergence is loud and finite. All arithmetic is
    integer — engine-exact under replay (``rounds=N`` runs exactly N
    refinement rounds, the bounded-replay mode the peel family shares;
    bounded mode also SKIPS per-round convergence detection — a
    |V|-keyed join that could never end a fixed-N loop anyway — AND the
    per-round lineage cuts: with no per-round actions the N rounds form
    one linear plan that a single final job executes, so eager
    checkpoints would only add N job barriers. Unbounded mode keeps
    both (its convergence count is an action per round, which without a
    lineage cut would re-execute every prior round). Measured on the
    docs_coreness gate: ~13% off the whole gate (5.1 → 4.5s, knn build
    included) — the remaining round cost is the window+join shuffles
    themselves, which is the algorithm.

    Scale shape per round: one equi-join of the symmetric edge list with
    the |V|-row estimate table on node id, then the h-index via a
    per-node window (partitioned by node — no global sort; the rank
    never needs more than each node's own adjacency in one partition,
    the same per-key locality as the slice reads). Skew note: a hub's
    adjacency lands in one window partition; degree-capping hubs first
    (their coreness is bounded by their h-index over a capped sample
    only when exactness is waived) or salting the join are the standard
    mitigations — the estimate table itself never broadcasts by hint.
    In unbounded (converge) mode ``localCheckpoint`` per round cuts the
    iterative lineage (dup_groups_star discipline — each round's
    convergence count is an action); bounded replay has no per-round
    action and runs the whole unroll as one linear plan, uncut (see
    above). Convergence-round caveat: estimates
    propagate ONE HOP per round, so the worst case is O(diameter) — a
    length-L chain needs ~L/2 rounds for its endpoints' 1s to meet in
    the middle (Montresor et al. §4: worst case O(N)); dense real-world
    graphs converge in a handful of rounds, but long sparse chains do
    not. Raise ``max_iters`` (each round is one linear join + window)
    or use bounded ``rounds`` with a tolerance when diameter is unknown.
    """
    from pyspark.sql import Window

    und = _undirected_edges(edges, src_col, dst_col)
    # LAZY checkpoints (r14): the emptiness probe below materializes both
    # in one job; in bounded-replay mode this also stops charging two
    # eager-checkpoint jobs to a path that otherwise runs as one linear
    # plan (the persisted levels are still computed once — each round
    # references the same checkpointed RDD object)
    sym = (
        und.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        .unionByName(und.select(F.col("hi").alias("a"), F.col("lo").alias("b")))
        .localCheckpoint(eager=False)
    )
    est = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    bounded = rounds is not None
    converged = est.limit(1).count() == 0
    w = Window.partitionBy("a").orderBy(F.col("nc").desc(), F.col("b"))
    for _ in range(rounds if bounded else max_iters):
        if converged:
            break
        nbr = sym.join(
            est.select(F.col("node").alias("b"), F.col("c").alias("nc")), "b"
        )
        new_est = (
            nbr.withColumn("rn", F.row_number().over(w))
            .groupBy(F.col("a").alias("node"))
            .agg(F.max(F.least(F.col("rn"), F.col("nc"))).cast("long").alias("c"))
        )
        if not bounded:
            # the convergence count below is a per-round ACTION, so the
            # estimate chain would re-execute from scratch each round
            # without a lineage cut — the dup_groups_star discipline.
            # Lazy: the n_changed count materializes it in the same job.
            new_est = new_est.localCheckpoint(eager=False)
            # convergence detection is worth its |V|-keyed join + count
            # only when it can END the loop; bounded replay runs its
            # fixed N rounds regardless (idempotent at fixpoint)
            n_changed = (
                new_est.alias("n")
                .join(est.alias("o"), "node")
                .where(F.col("n.c") != F.col("o.c"))
                .count()
            )
            converged = n_changed == 0
        est = new_est
    if not bounded and not converged:
        raise RuntimeError(f"coreness did not converge in {max_iters} rounds")
    return est.select("node", F.col("c").alias("coreness"))


def clustering_coefficient(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node over an undirected-
    interpreted edge list → ``(node, deg, n_triangles, cc_micro)`` for
    every node of the simple graph: cc = 2·T(v) / (deg(v)·(deg(v)−1)),
    the fraction of a node's neighbor pairs that are themselves linked
    (Watts & Strogatz 1998) — the standard local-density signal for
    spam-farm / bot-ring detection on interaction graphs (dense cliques
    score ~1, broadcast hubs ~0).

    Engine-exact discipline: the coefficient is emitted as integer
    MICRO-units ``(2·T·10⁶) div (deg·(deg−1))`` — one bigint division of
    two bigint products, bit-identical in any engine (Spark ``div`` and
    DuckDB BIGINT ``//`` both truncate; operands are non-negative so
    truncation == floor). Degree-1 and isolated-in-simple-graph nodes
    get cc_micro = 0 (no neighbor pair exists). Overflow bound: a
    node's triangle count is at most the simple edge count m (every
    triangle at v consumes a distinct edge not at v), so the numerator
    ``2·T·10⁶`` stays inside int64 for any graph under ~4.6·10¹²
    edges — two orders of magnitude past a 100 TB edge list.

    Scale shape: :func:`triangle_counts` (degree-ordered wedge join,
    O(m^1.5) worst case, no last-reducer hub) plus one extra map-side-
    combinable degree aggregate over the edge list and an equi-join on
    node id. The degree aggregate is recomputed rather than threaded
    out of ``triangle_counts`` so the gated triangle operator's plan is
    untouched; the extra pass is one scan + hash-agg of the edge list —
    noise next to the wedge join it accompanies.
    """
    und = _undirected_edges(edges, src_col, dst_col)
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionByName(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    tri = triangle_counts(edges, src_col, dst_col)
    return (
        deg.join(tri, "node")
        .select(
            "node",
            "deg",
            "n_triangles",
            F.when(
                F.col("deg") >= 2,
                F.expr(f"(2 * n_triangles * {MICRO}) div (deg * (deg - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("cc_micro"),
        )
    )
