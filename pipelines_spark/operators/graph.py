"""Graph operators beyond connected components (llm/dedup.py).

PageRank with EXACT integer arithmetic: ranks are maintained as
BIGINT numerators scaled by 1e15, and every division is integer
``DIV`` — deterministic to the last unit across engines and
partitionings, so a DuckDB oracle can replay the iterations
bit-for-bit (the same exact-replay discipline as the k-means and KMV
oracles; float PageRank would drift in the last ulp with summation
order). The truncation error per step is < 1e-15 of total mass —
irrelevant next to the damping-factor convergence error of a bounded
iteration count.

Each iteration is one join (rank ⋈ edges on src) + one aggregate
(sum contributions by dst) — the standard scalable PR shape: at 100
TB the edge table shuffle-partitions on src once and every iteration
reuses it; iterations are bounded by the caller, never data-driven.
Dangling nodes (no out-edges) are excluded from the node universe by
construction when edges are made bidirectional; for directed use,
pre-filter or accept mass leakage like the simple formulation does.

The reference has no graph operators; this generalizes its
"relation check" notion of entity importance (SURVEY §2.6 A1) the
way near-dup clustering generalized its exact dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipelines_spark.functions.exact import exact_div_round

from pipelines_spark.plans.staging import stage

SCALE = 1_000_000_000_000_000  # 1e15 fixed-point rank numerators


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
    damping_pct: int = 85,
    staging: str = "local",
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Returns ``(node, rank_scaled)`` where ``rank_scaled`` is the
    BIGINT fixed-point rank (divide by 1e15 for the float value).
    ``damping_pct`` is the damping factor in percent (integer, so the
    85/100 split stays exact).

    rank_0 = SCALE DIV N per node;
    rank_{t+1}(v) = ((100-d) * (SCALE DIV N)) DIV 100
                  + (d * Σ_{u→v} rank_t(u) DIV outdeg(u)) DIV 100.
    Nodes nobody links to keep the teleport term only.
    """
    # The distinct edge list, node universe, and out-degree table are
    # loop INVARIANTS consumed by every iteration — materialize them
    # ONCE with an eager localCheckpoint so (a) every iteration's join
    # reads the stored partitions instead of re-running the edge-dedup
    # shuffle, (b) the static plan references one materialized scan per
    # alias rather than re-expanding the lineage, and (c) the backing
    # blocks are released when the caller's staging scope exits — no
    # CacheManager entry to leak until session end (the round-4
    # staging-leak pattern). At 100 TB pass
    # staging="checkpoint" for a reliable checkpoint that survives
    # executor loss (plans/staging.py documents the trade).
    # r13 (guide §2.4): ``assume_distinct`` skips the edge-dedup
    # exchange when the CALLER constructed a provably-distinct list —
    # the registered trade-graph queries union a distinct (c*, s*)
    # pair set with its flipped copy, whose src prefixes are disjoint,
    # so the union is distinct by construction and the operator's
    # guard dedup re-shuffled the full edge list for nothing
    # (measured at 10×: edge staging 7.2 -> 4.8 s warm). Identical
    # results whenever the precondition holds; default stays safe.
    sel = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    e = stage(
        sel if assume_distinct else sel.distinct(),
        staging=staging,
    )
    nodes = stage(
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct(),
        staging=staging,
    )
    n_nodes = nodes.count()  # cheap action over the checkpointed blocks
    base = SCALE // n_nodes
    teleport = (100 - damping_pct) * base // 100

    outdeg = stage(
        e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg")),
        staging=staging,
    )
    ranks = nodes.select("node", F.lit(base).cast("long").alias("rank_scaled"))
    for _ in range(iterations):
        contrib = (
            ranks.join(e, ranks["node"] == e["_s"])
            .join(outdeg, "_s")
            .select(
                F.col("_d").alias("node"),
                F.expr("rank_scaled DIV _deg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"CAST({damping_pct} AS BIGINT) * coalesce(_in, CAST(0 AS BIGINT)) DIV 100"
                    )
                ).cast("long").alias("rank_scaled"),
            )
        )
        # lazy lineage cut so the plan tree stays O(1) per iteration
        # (mirrors ancestor_closure's discipline below); harmless at
        # iterations=2, load-bearing when callers raise the bound
        ranks = stage(ranks, eager=False, staging=staging)
    return ranks


def triangle_count(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    staging: str = "local",
) -> DataFrame:
    """Global triangle count of an undirected graph given as an edge
    list (either or both directions; self-loops ignored).

    Textbook scalable shape with the DEGREE-ORDERED orientation
    (Cohen / "MapReduce triangle enumeration" refinement): vertices
    are totally ordered by (degree, id) and every undirected edge is
    oriented low→high under that order. Each triangle x<y<z (order)
    then has exactly one BASE edge (x,y) with z in both out-neighbor
    sets, so ``Σ_{(a,b)∈E} |N⁺(a) ∩ N⁺(b)|`` counts each triangle
    once. The intersection runs per EDGE over compact out-adjacency
    arrays (one groupBy + two co-keyed joins + a map-side
    array_intersect) — the candidate-pair relation of the naive
    path-join formulation (Σ out-deg² rows, 41M at sf0.1 for a 1.2M
    edge graph) is never materialized or shuffled. Degree ordering is
    what keeps the arrays small under power-law skew: a hub's order
    rank is HIGH, so it collects in-edges, and every out-degree is
    bounded by ~√(2m) — the largest row the intersect ever sees is
    O(√m) elements, not O(max-degree). The count is
    orientation-invariant, so the SQL oracle can keep the simpler
    id-ordered replay.

    Returns a 1-row frame ``(n_triangles)``.
    """
    # The upstream edge derivation is often the expensive part (e.g.
    # the basket pair expansion in queries.graph_triangles) and canon
    # feeds THREE consumers (both union sides of deg + the orientation
    # join) — materialize it once so the expansion never recomputes.
    canon = stage(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct(),
        staging=staging,
    )
    # deg (one row per vertex, two references below) likewise
    deg = stage(
        canon.select(F.col("a").alias("v"))
        .unionByName(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d")),
        staging=staging,
    )
    # orient each edge low→high under the (degree, id) total order.
    # An eager localCheckpoint (not persist) materializes `oriented`
    # once and CUTS the lineage, so both consumers below (adjacency
    # build + edge probe) read one stored scan — with persist() alone
    # each alias re-expands the full canon⨝deg⨝deg tree in the static
    # plan (the round-4 shuffle-budget regression: 5 intended
    # exchanges explained as 19–55 depending on cache state), and the
    # CacheManager entry outlives the query.
    keyed = (
        canon.join(deg.withColumnsRenamed({"v": "a", "d": "_da"}), "a")
        .join(deg.withColumnsRenamed({"v": "b", "d": "_db"}), "b")
    )
    a_first = F.struct(F.col("_da"), F.col("a")) < F.struct(F.col("_db"), F.col("b"))
    oriented = stage(
        keyed.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        ),
        staging=staging,
    )
    # compact out-adjacency: one array per tail vertex, ≤ √(2m)
    # elements each thanks to the degree orientation
    adj = oriented.groupBy("lo").agg(F.collect_list("hi").alias("_nbrs"))
    # per-edge closing count |N⁺(lo) ∩ N⁺(hi)|; the hi-side lookup is
    # an inner join, so heads with no out-edges contribute nothing
    per_edge = (
        oriented.join(adj, "lo")
        .withColumnRenamed("_nbrs", "_nlo")
        .join(
            adj.select(F.col("lo").alias("hi"), F.col("_nbrs").alias("_nhi")),
            "hi",
        )
        .select(F.size(F.array_intersect("_nlo", "_nhi")).alias("_k"))
    )
    return per_edge.agg(
        F.coalesce(F.sum("_k"), F.lit(0)).cast("long").alias("n_triangles")
    )


def khop_reachability(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 2,
    staging: str = "local",
    assume_distinct: bool = False,
) -> DataFrame:
    """Minimum hop distance from a source node set, bounded by
    ``max_hops`` (BFS unrolled a fixed number of levels).

    Level expansion is one join (frontier ⋈ edges) + one min-aggregate
    per hop; the frontier is only the nodes FIRST reached at the
    previous level, so re-expansion of settled nodes never happens —
    the standard bounded-reachability shape (recommendation radius,
    blast-radius analysis, fraud rings). Hop counts are exact
    integers, so the oracle unrolls the same levels in SQL.

    Returns ``(node, min_hops)`` for every node within ``max_hops``
    (sources at 0).
    """
    # the edge list is a loop invariant read by every hop — checkpoint
    # it once so each level joins against stored partitions instead of
    # re-expanding the distinct in the plan (same discipline as
    # pagerank above)
    sel = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    e = stage(
        sel if assume_distinct else sel.distinct(),
        staging=staging,
    )
    reached = sources.select(
        F.col(node_col).alias("node"), F.lit(0).alias("min_hops")
    ).distinct()
    frontier = reached
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(reached, "node", "left_anti")
            .select("node", F.lit(hop).alias("min_hops"))
        )
        # lazy lineage cut: nxt feeds BOTH the reached union and the
        # next frontier, so without it the plan tree doubles per hop
        nxt = stage(nxt, eager=False, staging=staging)
        reached = reached.unionByName(nxt)
        frontier = nxt
    return reached


def ancestor_closure(
    edges: DataFrame,
    *,
    node: str = "node",
    parent: str = "parent",
    max_depth: int = 16,
    staging: str = "local",
) -> DataFrame:
    """Transitive (node, ancestor) closure of a parent-pointer forest
    — the hierarchy primitive behind org-chart rollups and
    bill-of-materials explosion, which SQL expresses as a recursive
    CTE and Spark as iterated joins.

    Pointer DOUBLING, not level-at-a-time chaining: round r joins the
    closure-so-far with itself, so paths up to 2^r edges exist after r
    rounds — ceil(log2(max_depth)) self-joins instead of max_depth
    sequential ones. For a 16-deep hierarchy that is 4 shuffled joins
    rather than 16; at 100 TB the win is fewer barrier stages, and
    every join keys on the (node/ancestor) id so AQE handles skewed
    fan-in nodes. Output size is n·depth pairs (each node has at most
    ``max_depth`` proper ancestors); the per-round distinct dedupes
    the multiple split points a doubled path can take.

    Returns ``(node, ancestor)`` for every PROPER ancestor reachable
    within ``max_depth`` parent steps (self pairs excluded; union
    them in if subtree-inclusive semantics are wanted).
    """
    closure = (
        edges.select(F.col(node).alias("node"), F.col(parent).alias("ancestor"))
        .filter(F.col("ancestor").isNotNull())
        .distinct()
    )
    rounds = max(1, (max_depth - 1).bit_length())
    for _ in range(rounds):
        hop = closure.select(
            F.col("node").alias("_mid"), F.col("ancestor").alias("_anc")
        )
        doubled = (
            closure.join(hop, closure["ancestor"] == hop["_mid"])
            .select("node", F.col("_anc").alias("ancestor"))
        )
        # lazy lineage cut: each round references closure twice, so
        # without a checkpoint the plan tree TRIPLES per round — the
        # same trap connected_components dodges (llm/dedup.py:533)
        closure = stage(
            closure.unionByName(doubled).distinct(), eager=False, staging=staging
        )
    return closure


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    staging: str = "local",
    assume_distinct: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007) with fully deterministic tie-breaks —
    the community primitive the family still lacked (pagerank ranks
    nodes, connected components merges everything reachable; LPA
    finds densely-linked groups WITHIN a component).

    Every node starts labeled with its own id; each round, every node
    adopts the label most frequent among its neighbors, ties broken
    by smallest label (order by count DESC, label ASC — a total order
    because label is unique per (node, label) group). Synchronous
    updates + deterministic ties mean the round-``iterations`` state
    is a pure function of the edge set, so a DuckDB oracle replays
    the identical rounds as unrolled CTEs and matches exactly.
    (Async/randomized LPA converges faster but is seed-dependent —
    useless under an exact-replay correctness gate. On bipartite
    graphs sync LPA can oscillate between the two sides; a bounded
    iteration count makes that a defined, replayable state rather
    than a liveness bug.)

    Scale shape: each round is ONE join (labels ⋈ edges on the label
    side) + one (node, label) count aggregate + one per-node argmax
    window — all keyed on node ids, so the edge table partitions once
    and every round reuses the layout; per-round shuffle volume is
    O(|E|) with map-side combine on the (node, label) count. State
    between rounds is one (node, label) row per node — never a
    frontier explosion. Loop invariants are staged once
    (``staging="checkpoint"`` for executor-loss durability at scale,
    plans/staging.py); per-round label frames get a lazy lineage cut
    so the plan tree stays O(1) per round.

    Returns ``(node, label)`` — nodes sharing a label after the final
    round are one community.
    """
    from pyspark.sql import Window

    # assume_distinct: see pagerank — same caller contract, same
    # skipped edge-dedup exchange
    sel = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    e = stage(
        sel if assume_distinct else sel.distinct(),
        staging=staging,
    )
    nodes = stage(
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct(),
        staging=staging,
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(F.col("_c").desc(), F.col("label").asc())
    for _ in range(iterations):
        freq = (
            labels.join(e, labels["node"] == e["_s"])
            .groupBy(F.col("_d").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        best = (
            freq.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", F.col("label").alias("_new"))
        )
        # every node in the universe has degree >= 1 (the universe IS
        # the edge endpoints), so the left join never misses; coalesce
        # guards caller-supplied isolated nodes if the invariant ever
        # relaxes
        labels = nodes.join(best, "node", "left").select(
            "node", F.coalesce(F.col("_new"), F.col("node")).alias("label")
        )
        labels = stage(labels, eager=False, staging=staging)
    return labels


def community_modularity(
    edges: DataFrame,
    labels: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-community Newman modularity contributions for a labeling
    (e.g. :func:`label_propagation` output) over a DIRECTED-BOTH-WAYS
    edge list (each undirected edge present in both directions, the
    same convention label_propagation consumes).

    With m_bi = |bi-directional edges| = 2m, community c's
    contribution is  L_c(bi)/m_bi − (d_c/m_bi)²  where L_c(bi)
    counts bi-edges with BOTH endpoints in c (= 2·undirected internal
    edges) and d_c is the degree sum (out-edges in bi). Summing
    contributions gives Newman's Q ∈ [−1/2, 1). Every term is an
    exact integer count until the final division, so the result is
    partitioning- and engine-exact.

    Scale shape: two equi-joins keyed on node id attach labels to
    edge endpoints (the same clustering LPA itself used), then one
    per-community count aggregate and one 1-row total broadcast back
    — O(|E|) shuffle, state O(|communities|).

    Returns (community, n_members, internal_edges, degree_sum,
    modularity_contrib).
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()
    ls = labels.select(F.col("node").alias("_s"), F.col("label").alias("_sl"))
    ld = labels.select(F.col("node").alias("_d"), F.col("label").alias("_dl"))
    tagged = e.join(ls, "_s").join(ld, "_d")
    per_c = (
        tagged.groupBy(F.col("_sl").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("degree_sum"),
            F.sum(
                F.when(F.col("_sl") == F.col("_dl"), 1).otherwise(0)
            ).alias("_internal_bi"),
        )
    )
    m_bi = e.agg(F.count(F.lit(1)).alias("_m_bi"))
    members = labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        per_c.join(F.broadcast(m_bi))
        .join(members, "community")
        .select(
            "community",
            "n_members",
            (F.col("_internal_bi") / 2).cast("long").alias("internal_edges"),
            "degree_sum",
            # + 0.0 collapses IEEE -0.0 to +0.0 (a contribution that
            # rounds to zero must hash identically in every engine)
            # i/m − (d/m)² = (i·m − d²)/m² — an exact integer
            # rational, rounded half-up in integer arithmetic
            # (functions/exact.py discipline); never produces -0.0
            exact_div_round(
                F.col("_internal_bi") * F.col("_m_bi")
                - F.col("degree_sum") * F.col("degree_sum"),
                F.col("_m_bi") * F.col("_m_bi"),
                out_scale=6,
            ).alias("modularity_contrib"),
        )
    )


def k_core_peel(
    bi_edges: DataFrame,
    *,
    k: int = 3,
    rounds: int = 5,
    staging: str = "local",
) -> DataFrame:
    """Bounded k-core peeling over a BIDIRECTED edge list (both
    directions present): each round drops every node of degree < k
    and the edges touching it, the classic core-decomposition step
    (Seidman 1983; Batagelj-Zaveršnik lineage). The TRUE k-core needs
    data-driven iteration; this runs a FIXED ``rounds`` budget — the
    distributed posture every loop in this module takes (pagerank,
    LPA, k-hop) — and returns per-round (n_nodes, n_edges) so
    convergence is VISIBLE in the output: two equal consecutive
    rounds mean the peel reached the k-core exactly, not
    approximately. Per round: one degree aggregate + two semi-joins,
    all keyed on node ids — O(|E|) shuffle, loop invariants staged
    (lineage cut per round)."""
    from functools import reduce

    edges = stage(bi_edges, eager=False, staging=staging)

    def stats(e: DataFrame, r: int) -> DataFrame:
        return e.agg(
            F.lit(r).alias("round"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
            F.count_distinct("src").alias("n_nodes"),
        )

    out = [stats(edges, 0)]
    for r in range(1, rounds + 1):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        edges = stage(
            edges.join(keep, "src", "left_semi").join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            ),
            eager=False,
            staging=staging,
        )
        out.append(stats(edges, r))
    return reduce(lambda a, b: a.unionByName(b), out)
