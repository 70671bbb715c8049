"""Graph operators: PageRank in exact integer fixed-point.

PageRank is THE canonical iterative DataFrame algorithm (joins +
groupBy per iteration, no driver-side graph state), but a float
implementation is not engine-portable: each iteration sums incoming
contributions in shuffle order, so two runs — let alone two engines —
disagree in the last ulps, and the error compounds per iteration.
This implementation runs entirely in scaled int64 arithmetic
(micro-units of 1e-12), where every operation (multiply, truncating
divide, sum) is order-independent and bit-identical on any engine:

    r_0(v)    = SCALE / N
    term(u,v) = (r(u) * w(u,v)) intdiv W(u)      -- weighted split
    r'(v)     = (SCALE * (100-d)) intdiv (100*N)
                + (d * Σ_u term(u,v)) intdiv 100  -- d = damping %

Truncating integer division loses < 1e-12 of mass per edge per
iteration — irrelevant for ranking, decisive for cross-engine
equality (the DuckDB oracle states the identical integer recurrence).

Two tiers run this recurrence, chosen by the number of distinct
(u, v) pairs, counted once the edges are truncated:

- distributed (>= IN_ROW_EDGE_LIMIT pairs): ranks are |V| rows, edges
  |E|; each iteration is one broadcast-or-shuffle join + one groupBy
  keyed on the destination, the textbook Pregel-style shape. Lineage
  is truncated per iteration (core/checkpointing.py) so the plan stays
  iteration-count-independent; pass ``checkpoint_dir`` for reliable
  checkpoints on a cluster.
- in-row (< IN_ROW_EDGE_LIMIT pairs): the edges collect into one row
  and every round runs inside one Catalyst expression over an
  array<bigint> of ranks, in one Spark job instead of ~3 per round.
  When the whole state fits one reducer, one round is optimal (the
  rounds x communication cost of "MapReduce Algorithms for Big Data
  Analysis", VLDB 2012).

Both tiers write the per-edge term and the rank update with the same
SQL fragments (_term, _update), so their ranks are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.core.checkpointing import bounded_persist

SCALE = 1_000_000_000_000  # 1e12 rank micro-units

# The in-row tier runs when the truncated edge set has fewer (u, v)
# pairs than this. Its one row then holds < 1024 edge structs, and the
# one-time preparation (each edge's source resolved to a node position,
# the edges grouped by destination) is O(N·E) < 2·1024² lambda steps.
# Sized on 4 cores (local[4]), 10 rounds: 1023 pairs over ~2000 nodes
# take 0.6 s in-row vs 2.9 s distributed; at 4095 pairs over ~8000
# nodes the in-row tier is already slower (5.4 s vs 4.9 s).
IN_ROW_EDGE_LIMIT = 1024


def _term(rank: str, w: str, w_out: str) -> str:
    """SQL for one edge's share of its source's rank. `div` is Spark's
    INTEGRAL division: (a*b)/c through doubles would lose exactness
    past 2^53 (rank*w reaches ~1e16)."""
    return f"({rank} * {w}) div {w_out}"


def _update(teleport: str, in_sum: str, damping_pct: int) -> str:
    """SQL for a node's next rank from the sum of its in-edge terms."""
    return f"{teleport} + ({damping_pct} * {in_sum}) div 100"


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iterations: int = 10,
    damping_pct: int = 85,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, rank_fp) after ``iterations`` rounds; rank_fp is the
    int64 fixed-point rank (divide by SCALE for the float value).
    ``damping_pct`` is an integer percent so the damping multiply
    stays integral. Weights must be non-null."""
    from mapreducewordoccurences_spark.core.checkpointing import make_truncate

    truncate = make_truncate(edges, checkpoint_dir)
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v"), w.alias("w")
    )
    # collapse duplicate edges up front: one (u,v) weight per pair —
    # and TRUNCATE here, before anything fans out: nodes and outw
    # below each consume e, and without the pin every consumer would
    # re-run the upstream edge-construction subplan (often the
    # expensive stage when the caller passes a transition/pair plan).
    e = truncate(e.groupBy("u", "v").agg(F.sum("w").alias("w")))
    # The tier choice counts the truncated pairs: two small jobs over
    # the pinned blocks. (An Observation on the truncation would count
    # them in its own job, but the first one registers a
    # QueryExecutionListener on the session for good, and from then on
    # unregistering a py4j listener proxy calls its `equals`, which
    # fails unless the Python class defines one; the benchmark's traced
    # run registers and unregisters such a proxy per operation.)
    n_edges = e.count()
    if n_edges == 0:  # no edges, no nodes
        return e.select(
            F.col("u").alias("node"), F.lit(0).cast("long").alias("rank_fp")
        )
    if n_edges < IN_ROW_EDGE_LIMIT:
        return _pagerank_in_row(e, iterations, damping_pct)

    nodes = truncate(
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    outw = e.groupBy("u").agg(F.sum("w").alias("w_out"))
    e = truncate(e.join(outw, "u"))  # (u, v, w, w_out)

    n_nodes = nodes.count()
    teleport = (SCALE * (100 - damping_pct)) // (100 * n_nodes)
    ranks = truncate(
        nodes.select("node", F.lit(SCALE // n_nodes).cast("long").alias("rank_fp"))
    )

    for _ in range(iterations):
        # Nodes with no in-edges ride through the SAME groupBy as a
        # zero term (sum(terms ∪ {0}) ≡ the former coalesce(in_sum, 0)
        # after a left join) — one exchange per round instead of the
        # groupBy + nodes-join pair (guide §2.4).
        terms = e.join(ranks, e.u == ranks.node).select(
            F.col("v").alias("node"),
            F.expr(_term("rank_fp", "w", "w_out")).alias("term"),
        )
        ranks = truncate(
            terms.unionByName(
                nodes.select("node", F.lit(0).cast("long").alias("term"))
            )
            .groupBy("node")
            .agg(F.sum("term").alias("in_sum"))
            .select(
                "node",
                F.expr(_update(f"{teleport}L", "in_sum", damping_pct)).alias(
                    "rank_fp"
                ),
            )
        )
    return ranks


def _pagerank_in_row(e: DataFrame, iterations: int, damping_pct: int) -> DataFrame:
    """The same recurrence over a graph small enough to live in one
    row. The (u, v, w) pairs collect into one array; the state R is an
    array<bigint> of ranks indexed by node position; every edge's
    source is resolved to its position once; and all rounds run as
    one ``aggregate`` over the round numbers: one Spark job, whatever
    ``iterations`` is. A null endpoint behaves as in the distributed
    tier: a null node keeps its rank, a null source's edges drop.

    The destination-grouped edges G ride in the fold's accumulator
    beside R. Catalyst inlines a column used once into its consumer,
    lambdas included, so G built in a projection of its own would be
    rebuilt every round."""
    # one node's in-edges, each carrying its source's out-weight
    in_edges = (
        "transform(nodes, n -> transform(filter(es, t -> t.v <=> n), "
        "t -> named_struct('ui', t.ui, 'w', t.w, 'w_out', "
        "aggregate(filter(es, o -> o.ui = t.ui), 0L, (a, o) -> a + o.w))))"
    )
    teleport = f"{SCALE * (100 - damping_pct)}L div (100 * size(nodes))"
    in_sum = (
        "aggregate(ins, 0L, (a, t) -> a + "
        f"{_term('element_at(s.R, t.ui)', 't.w', 't.w_out')})"
    )
    one_round = (
        f"transform(s.G, ins -> {_update(teleport, in_sum, damping_pct)})"
    )
    return (
        e.coalesce(1)
        .agg(F.collect_list(F.struct("u", "v", "w")).alias("es"))
        .selectExpr(
            "es",
            "array_sort(array_distinct(concat("
            "transform(es, t -> t.u), transform(es, t -> t.v)))) AS nodes",
        )
        .selectExpr(
            "nodes",
            "transform(filter(es, t -> t.u IS NOT NULL), t -> named_struct("
            "'ui', int(array_position(nodes, t.u)), 'v', t.v, 'w', t.w)) AS es",
        )
        .selectExpr(
            "nodes AS node",
            f"aggregate(array_repeat(0, {iterations}), named_struct("
            f"'R', array_repeat({SCALE}L div size(nodes), size(nodes)), "
            f"'G', {in_edges}), "
            f"(s, k) -> named_struct('R', {one_round}, 'G', s.G), "
            "s -> s.R) AS rank_fp",
        )
        .selectExpr("inline(arrays_zip(node, rank_fp))")
    )


def triangle_count(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """ONE-row triangle count of an undirected graph (plus node/edge
    counts for context): (n_nodes, n_edges, n_triangles).

    Algorithm: degree orientation (Suri & Vassilvitskii, WWW'11 —
    the MapReduce classic). Every edge orients from its lower-rank
    endpoint under the total order (degree, node); wedges are built
    by joining out-edges on their source, and a wedge closes iff its
    two endpoints are themselves an oriented edge. Orientation bounds
    every vertex's out-degree by O(√m), so wedge volume is Σ d_out² ≤
    O(m^1.5) — the naive u<v<w three-way join explodes on high-degree
    hubs (a celebrity node with d followers contributes d² wedges; by
    degree rank, its edges mostly point INTO it instead). All joins
    are equi-joins on node ids; counting is exact integer work.
    """
    e = (
        edges.select(
            F.least(a_col, b_col).alias("u"), F.greatest(a_col, b_col).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, node): lower rank → higher rank
    ranked = e.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    wedges = (
        oriented.select(F.col("src"), F.col("dst").alias("w1"))
        .join(
            oriented.select(F.col("src"), F.col("dst").alias("w2")),
            "src",
        )
        .where(F.col("w1") < F.col("w2"))
    )
    # a wedge (w1, w2) closes iff oriented edge w1→w2 or w2→w1 exists;
    # since both orientations are possible under degree rank, check the
    # undirected closure against e (u < v canonical form)
    closure = e.select(
        F.col("u").alias("c1"), F.col("v").alias("c2")
    )
    tri = wedges.join(
        closure,
        (F.least("w1", "w2") == F.col("c1"))
        & (F.greatest("w1", "w2") == F.col("c2")),
        "left_semi",
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def triangle_count_approx(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    n_samples: int = 100_000,
    seed: int = 7,
) -> DataFrame:
    """ONE-row APPROXIMATE triangle count via stratified wedge
    sampling (Schank & Wagner '05 / Seshadhri et al. '13):
    (n_nodes, n_edges, n_wedges, n_sampled, est_triangles).

    Why it exists: exact counting — even degree-oriented O(m^1.5)
    (``triangle_count``) — explodes on DENSE graphs. The r7 sf1 probe
    measured the synthetic session-overlap graph at 14.25M edges over
    15k nodes (~13% dense): Σ deg² ≈ 10¹⁰ wedges, infeasible on both
    engines. Sampling decouples cost from wedge volume entirely:
    work is O(E + n_samples), with relative error O(1/√(κ·k)) for
    closure rate κ.

    Per-vertex stratification keeps it deterministic AND unbiased
    without driver-side state: each center v with degree d holds
    w_v = d(d-1)/2 wedges; it draws s_v = ceil(k · w_v / W) sample
    wedges (so every stratum with wedges gets ≥ 1), each an
    xxhash64-seeded uniform unordered neighbor pair resolved by
    row_number index — no adjacency arrays, no rand(), bit-identical
    across runs and partitionings. The estimator Σ_v w_v · closed_v/s_v
    sums each triangle's three closed wedges in expectation, so /3 at
    the end. All steps are node-keyed equi-joins + one broadcast of
    the 1-row wedge total; nothing grows with Σ deg².
    """
    from pyspark.sql import Window

    e = bounded_persist(
        edges.select(
            F.least(a_col, b_col).alias("u"), F.greatest(a_col, b_col).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).select(
        F.col("u").alias("center"), F.col("v").alias("nbr")
    )
    # pseudo-random but deterministic neighbor order per center; the
    # index is what lets hash-picked pairs resolve without arrays
    idx_w = Window.partitionBy("center").orderBy(
        F.xxhash64("center", "nbr", F.lit(seed)), F.col("nbr")
    )
    indexed = bounded_persist(
        sym.select("center", "nbr", (F.row_number().over(idx_w) - 1).alias("idx"))
    )
    stats = (
        indexed.groupBy("center")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") >= 2)
        .select("center", "d", (F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("w_v"))
    )
    totals = stats.agg(
        F.sum("w_v").alias("n_wedges"), F.count(F.lit(1)).alias("__n_centers")
    )
    alloc = stats.crossJoin(F.broadcast(totals)).select(
        "center",
        "d",
        "w_v",
        F.ceil(F.lit(n_samples) * F.col("w_v") / F.col("n_wedges")).cast("long").alias("s_v"),
    )
    drawn = alloc.select(
        "center", "d", "w_v", "s_v",
        F.explode(F.sequence(F.lit(0), F.col("s_v") - 1)).alias("j"),
    )
    a_idx = F.pmod(F.xxhash64("center", "j", F.lit(seed + 1)), F.col("d"))
    # shift trick: b ranges uniformly over the d-1 indices != a
    b_idx = F.pmod(
        a_idx + 1 + F.pmod(F.xxhash64("center", "j", F.lit(seed + 2)), F.col("d") - 1),
        F.col("d"),
    )
    picked = drawn.select(
        "center", "w_v", "s_v", a_idx.alias("__ai"), b_idx.alias("__bi")
    )
    wa = indexed.select(
        F.col("center"), F.col("idx").alias("__ai"), F.col("nbr").alias("__x")
    )
    wb = indexed.select(
        F.col("center"), F.col("idx").alias("__bi"), F.col("nbr").alias("__y")
    )
    sampled = picked.join(wa, ["center", "__ai"]).join(wb, ["center", "__bi"])
    closed = sampled.join(
        e.select(
            F.col("u").alias("__cx"), F.col("v").alias("__cy"), F.lit(1).alias("__hit")
        ),
        (F.least("__x", "__y") == F.col("__cx"))
        & (F.greatest("__x", "__y") == F.col("__cy")),
        "left",
    )
    per_center = closed.groupBy("center", "w_v", "s_v").agg(
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__closed"),
        F.count(F.lit(1)).alias("__drawn"),
    )
    est = per_center.agg(
        F.sum(F.col("w_v") * F.col("__closed") / F.col("s_v")).alias("__tri3"),
        F.sum("__drawn").alias("n_sampled"),
    ).select(
        (F.col("__tri3") / 3.0).alias("est_triangles"), F.col("n_sampled")
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select("v"))
        .agg(F.count_distinct("node").alias("n_nodes"))
    )
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(totals.select("n_wedges")))
        .crossJoin(F.broadcast(est))
        .select(
            "n_nodes",
            "n_edges",
            # A wedge-free graph (every degree <= 1) aggregates empty
            # frames to NULL; the contract is est == 0 there.
            F.coalesce("n_wedges", F.lit(0)).alias("n_wedges"),
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("est_triangles", F.lit(0.0)).alias("est_triangles"),
        )
    )


def kcore_membership(
    edges: DataFrame,
    k: int = 3,
    iterations: int = 8,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k-core decomposition membership of an undirected graph:
    (node, core_degree) for every node of the k-core — the maximal
    subgraph where every vertex keeps degree >= k — after
    ``iterations`` peel rounds (Matula & Beck's algorithm, the
    standard bulk-synchronous form: repeatedly drop vertices with
    degree < k and recount). The peel is monotone — the alive set
    only shrinks — so running extra rounds past convergence is a
    no-op, and a fixed round count makes the operator expressible as
    an unrolled SQL recurrence for the oracle.

    Scale: each round is one semi-join of the (symmetrized, distinct)
    edge list against the alive set + one degree groupBy — both keyed
    on node ids, both shuffle-partitioned, no driver-side graph
    state. Lineage is truncated per round (core/checkpointing.py), so
    the plan stays round-count-independent; pass ``checkpoint_dir``
    for reliable checkpoints on a cluster. Peel depth (rounds to
    converge) is small on heavy-tailed graphs — degeneracy-ordering
    literature reports O(log n)-ish rounds in practice, and the loop
    stops early once the alive count is stable, so a generous
    ``iterations`` budget costs no extra rounds.
    """
    from mapreducewordoccurences_spark.core.checkpointing import make_truncate

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    truncate = make_truncate(edges, checkpoint_dir)
    # symmetrize with explode, not union-of-swapped-selects: edges is
    # typically an unmaterialized candidate-pair subplan (LSH bands),
    # and a union would evaluate it once per branch inside the sym
    # job — 2x the dominant stage (same fix as dedup/clusters.py).
    sym = truncate(
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )

    alive = None  # round 0 counts over the full graph
    n_alive = None
    deg = None
    for _ in range(iterations):
        live = sym
        if alive is not None:
            live = (
                live.join(alive.select(F.col("node").alias("u")), "u", "semi")
                .join(alive.select(F.col("node").alias("v")), "v", "semi")
            )
        deg = live.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).alias("core_degree")
        )
        alive = truncate(deg.where(F.col("core_degree") >= k).select("node"))
        # convergence check: the peel is monotone, so a stable alive
        # count means a fixed point — stop instead of paying no-op
        # rounds (one cheap driver-scalar aggregate per round). It only
        # ever ends the loop early: when ``iterations`` is below the
        # peel depth, the result is the partial peel after exactly
        # ``iterations`` rounds (a superset of the k-core), the
        # fixed-round contract the oracle's unrolled recurrence shares
        n_now = alive.count()
        if n_alive is not None and n_now == n_alive:
            break
        n_alive = n_now
    return deg.where(F.col("core_degree") >= k)
