"""Graph analytics over relational co-occurrence graphs (round 8;
LLM-pipeline + ETL extension — no reference analog: the reference joins
tables, it never derives a graph from them).

Two classic operators a 100 TB pipeline reaches for once entities are
resolved (connected components live in operators/dedup.py):

- TRIANGLE COUNTING — the clustering-coefficient numerator; integer
  output, so cross-engine determinism is free.
- PAGERANK — influence scoring over the co-occurrence graph. Iterative
  float PageRank is NOT oracle-checkable (per-engine summation order
  drifts and the error compounds per iteration), so this is FIXED-POINT
  PageRank: ranks are integer nano-units (scale 1e9), per-node
  contributions are floor divisions, and sums are exact integer sums —
  order-free, bit-exact in both engines, the kmeans integer-quantization
  determinism contract (operators/similarity.py::_lloyd)
  applied to graph iteration. The fixed-point values sit within
  iters × (1/scale + degree rounding) of true float PageRank; what the
  engine guarantees is that BOTH engines compute the SAME number.

Scale shape: triangle counting is two self-joins on the (src < dst)
edge list with map-side degree pruning available; PageRank is one keyed
shuffle per iteration (contributions grouped by destination) over an
edge list annotated with out-degrees once, lineage cut per iteration.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pos_pipeline_core_etl_spark.operators.common import (
    converge,
    release_checkpoint,
)

PAGERANK_SCALE = 10**9
PAGERANK_DAMPING_PCT = 85  # d = 0.85 as an exact rational
PAGERANK_ITERS = 10
# Convergence-driven stop (round 9, VERDICT r8 #3): iterate until the
# L1 delta between successive iterates is <= PAGERANK_TOL_Q rank
# nano-units (2e5 = 0.0002 of total rank mass), capped at
# PAGERANK_MAX_ITERS.  Measured on the co-purchase graph: stops at
# iter 4 (sf0.01) and iter 9 (sf0.1) — the rule adapts to the graph
# instead of trusting a fixed count.
PAGERANK_TOL_Q = 200_000
PAGERANK_MAX_ITERS = 16


def copurchase_edges(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Distinct undirected co-occurrence edges (src < dst): two items
    are connected iff they appear in the same order. One groupBy(order)
    + in-row pair expansion (the capped-bucket machinery is not needed:
    an order's line count is schema-bounded at 7 in TPC-H-shaped data,
    so per-group pair counts are tiny) + one distinct."""
    from pos_pipeline_core_etl_spark.operators.dedup import upper_triangle_pairs

    grouped = (
        lineitem.select(
            F.col(order_col).alias("g"), F.col(item_col).alias("item")
        )
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("item")).alias("items"))
        .where(F.size("items") > 1)
    )
    pairs = upper_triangle_pairs(
        ids_col="items",
        build=lambda x, y: F.struct(x.alias("src"), y.alias("dst")),
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct()
    )


def symmetric_edges(edges: DataFrame) -> DataFrame:
    """(src, dst) in both directions: the undirected (src < dst) edge
    list as the directed adjacency every degree and walk reads."""
    return edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def node_degrees(sym: DataFrame, name: str = "deg") -> DataFrame:
    """(src, ``name``): each node's degree over a :func:`symmetric_edges`
    frame."""
    return sym.groupBy("src").agg(F.count(F.lit(1)).alias(name))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, n_triangles) for every node of the (src < dst) edge list
    that participates in at least one triangle. Classic ordered
    three-way self-join: (a<b) ⋈ (b<c) ⋈ (a<c) enumerates each triangle
    exactly once; each triangle credits its three corners. Integer
    output — the determinism-free-by-construction graph statistic."""
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    corners = tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return (
        corners.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def triangle_counts_oriented(edges: DataFrame) -> DataFrame:
    """Degree-ordered triangle counting (VERDICT r8 #4) — same output
    as :func:`triangle_counts`, different join geometry.

    Each undirected edge is oriented from its lower-(degree, id)
    endpoint to its higher one; in the resulting DAG every triangle
    {x, y, z} with x < y < z in that total order appears exactly once
    as the wedge x->y, x->z closed by y->z.  The wedge join therefore
    enumerates sum_u C(outdeg+(u), 2) candidates where outdeg+ is the
    ORIENTED out-degree — bounded by O(m^1.5) overall (the standard
    compact-forward bound) — instead of the plain ordered join's
    sum_v |{a < v}| x |{c > v}|, which degenerates quadratically when
    a high-degree hub sits mid-way in the id order (a power-law graph
    with arbitrary ids).  On TPC-H-shaped co-purchase graphs the
    degree cap saturates and both forms are dim-bounded; the oriented
    form is the one that survives the 100x power-law case
    (equality is test-pinned, the blowup ladder-measured).

    One degree aggregation + one broadcast-or-shuffle annotate join,
    then the same three-relation equi-join shape as the plain form —
    no new shuffle class."""
    deg = node_degrees(symmetric_edges(edges))
    e = (
        edges.join(deg.select(F.col("src"), F.col("deg").alias("deg_s")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("deg_d")),
            "dst",
        )
    )
    ks = F.struct(F.col("deg_s").alias("d"), F.col("src").alias("i"))
    kd = F.struct(F.col("deg_d").alias("d"), F.col("dst").alias("i"))
    fwd = ks < kd  # total order: ties in degree break by node id
    oriented = e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(fwd, kd).otherwise(ks).alias("vkey"),
    )
    o1 = oriented.select("u", F.col("v"), F.col("vkey"))
    o2 = oriented.select(
        "u", F.col("v").alias("w"), F.col("vkey").alias("wkey")
    )
    wedges = o1.join(o2, "u").where(F.col("vkey") < F.col("wkey")).select(
        "u", "v", "w"
    )
    closing = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"])
    corners = tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def pagerank_fixedpoint(
    edges: DataFrame,
    iters: int = PAGERANK_ITERS,
    damping_pct: int = PAGERANK_DAMPING_PCT,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """(node, rank_q): fixed-point PageRank after ``iters`` synchronous
    iterations over the symmetrized (src < dst) edge list. rank_q is the
    rank in integer ``1/scale`` units; the integer update rule is
    :func:`_pagerank_step_delta`'s, with the uniform restart term
    base_q = ((100 - damping_pct) * scale) DIV (100 * n) and the walk
    starting from scale DIV n on every node.

    Every node has outdeg >= 1 (the node set IS the edge endpoints of an
    undirected graph), so there is no dangling mass to redistribute;
    floor division leaks a deterministic dust of rank mass instead —
    documented, identical cross-engine. The node count n is a bounded
    scalar (one count over the node set — graph-dimension-sized, the
    bounded-scalar class of collect).

    The ``iters`` steps are ONE lazy chain (:func:`_pagerank_walk`):
    the caller's action materializes every iterate, so a fixed count
    pays no per-round probe job."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    annotated, nodes, n = _pagerank_setup(edges)
    if n == 0:
        # an empty edge list must yield an empty rank table, not a
        # ZeroDivisionError in the base-term arithmetic (second-pass
        # re-read, SELFREVIEW_r8)
        return nodes.withColumn("rank_q", F.lit(0).cast("long"))
    ranks = nodes.withColumn("rank_q", F.lit(scale // n).cast("long"))
    restart = F.lit(((100 - damping_pct) * scale) // (100 * n))
    walk = _pagerank_walk(annotated, ranks, restart, iters, damping_pct)
    return walk[-1].select("node", "rank_q")


def _pagerank_setup(edges: DataFrame):
    """Shared iteration setup: symmetrized + degree-annotated edge list
    and the node set (both checkpointed once), and the node count.  The
    symmetric edge list they are built from is freed once both have
    materialized.

    r12 note (measured, guide §1): caching the annotated list
    HASH-PARTITIONED on ``src`` (SQL cache preserves partitioning, so
    the probed loop's per-round edge exchange disappears) was TRIED
    and REVERTED — the per-round InMemoryTableScan columnar decode of
    the 2E-row cache cost far more than the small exchange it removed
    (graph_part_pagerank_tol executor time 0.7 → 14.9 s, wall
    3.5 → 4.9 s).  The checkpoint (serialized row blocks) stays the
    cheapest per-round source at bench scale; at cluster scale the
    lazy loops pay the exchange once per ACTION via ReuseExchange
    anyway."""
    sym = symmetric_edges(edges).localCheckpoint(eager=True)
    deg = node_degrees(sym, "outdeg")
    annotated = sym.join(deg, "src").localCheckpoint(eager=True)
    nodes = deg.select(F.col("src").alias("node")).localCheckpoint(eager=True)
    release_checkpoint(sym)
    return annotated, nodes, nodes.count()


def _pagerank_step_delta(
    annotated: DataFrame,
    ranks: DataFrame,
    restart: Column,
    damping_pct: int,
) -> DataFrame:
    """ONE synchronous fixed-point iteration, the step every PageRank
    loop here runs.  Update rule (all integer, both engines):

        contrib(u)  = rank_q(u) DIV outdeg(u)
        rank_q'(v)  = restart(v) + (damping_pct * Σ_{u→v} contrib(u)) DIV 100

    ``restart`` is the restart term: the literal base_q for the global
    walk, base_q on seeds and 0 elsewhere for the personalized one.
    Returns the lazily-checkpointed iterate: ``ranks``' other columns
    (``node`` and any per-node flag ``restart`` reads), then
    ``prev_q`` (the input rank) and ``rank_q``.

    Fused with its own convergence probe input (r12, guide §2.4 —
    remove shuffles outright): ``ranks`` carries exactly the node set
    (every iterate is produced by a left join FROM the previous one),
    so joining ``ranks`` with the contribution sums yields the new
    rank_q while the previous rank rides along as ``prev_q`` for free;
    an |delta| probe then aggregates the checkpointed frame with no
    join at all.  Against re-joining old and new ranks this deletes one
    join + two node-sized exchange sides per round at ANY scale
    (profile: graph_part_pagerank_tol was 90 jobs with 0.7
    executor-seconds — pure per-round fixed cost)."""
    contrib = annotated.join(ranks, annotated.src == ranks.node).select(
        F.col("dst").alias("node"),
        F.expr("rank_q DIV outdeg").alias("c"),
    )
    sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
    carried = [c for c in ranks.columns if c not in ("prev_q", "rank_q")]
    return (
        ranks.join(sums, "node", "left")
        .select(
            *carried,
            F.col("rank_q").alias("prev_q"),
            (restart + F.expr(f"({damping_pct} * coalesce(s, 0)) DIV 100"))
            .cast("long")
            .alias("rank_q"),
        )
        .localCheckpoint(eager=False)
    )


def _pagerank_walk(
    annotated: DataFrame,
    ranks: DataFrame,
    restart: Column,
    iters: int,
    damping_pct: int,
) -> list[DataFrame]:
    """The fixed-count loop: the ``iters`` successive iterates of
    :func:`_pagerank_step_delta` from ``ranks``, chained lazily.

    It stays a lazy chain rather than running on
    :func:`~operators.common.converge`: a converge-driven 10-iteration
    walk returned identical rows but took graph_part_pagerank from a
    2.74 s to a 3.43 s median (sf0.1, ``local[4]``, 4-core VM, 3 warm
    reps), since 10 rounds cost 6 probe collects."""
    walk = []
    for _ in range(iters):
        ranks = _pagerank_step_delta(annotated, ranks, restart, damping_pct)
        walk.append(ranks)
    return walk


def pagerank_converged(
    edges: DataFrame,
    tol_q: int = PAGERANK_TOL_Q,
    max_iters: int = PAGERANK_MAX_ITERS,
    damping_pct: int = PAGERANK_DAMPING_PCT,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """(node, rank_q, stop_iter): fixed-point PageRank iterated UNTIL
    the L1 distance between successive iterates is <= ``tol_q`` rank
    nano-units, capped at ``max_iters`` — the composition of the rank
    loop with its own convergence audit (``pagerank_l1_trajectory``),
    whose docstring calls fixed iteration counts "an act of faith"
    (VERDICT r8 #3).

    Every quantity stays integer, so the STOPPING ITERATION itself is
    bit-exact cross-engine: both engines walk the same integer
    trajectory and therefore stop at the same iteration, which is why
    stop_iter can sit in the oracle-checked output.  The per-iteration
    convergence check is one bounded 1-row aggregate (sum of |delta|
    over the node set — the same dimension class as the setup's node
    count); the step is ``pagerank_fixedpoint``'s.  A healthy damped
    walk contracts roughly geometrically until the integer-dust floor
    (~nodes x rounding), so ``tol_q`` must sit above that floor for the
    graph dimension at hand — at the floor the delta plateaus instead
    of shrinking."""
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    annotated, nodes, n = _pagerank_setup(edges)
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_q"),
            F.lit(0).cast("long").alias("stop_iter"),
        )
    ranks = nodes.withColumn("rank_q", F.lit(scale // n).cast("long"))
    restart = F.lit(((100 - damping_pct) * scale) // (100 * n))
    # each iterate carries its own prev_q, so the probe is join-free;
    # batching and checkpoint release: see converge
    final, stop, _ = converge(
        ranks,
        lambda it: _pagerank_step_delta(annotated, it, restart, damping_pct),
        F.sum(F.abs(F.col("rank_q") - F.col("prev_q"))),
        lambda _prev, d: d <= tol_q,
        max_iters,
    )
    # the returned iterate reads only its own checkpoint blocks
    release_checkpoint(annotated)
    release_checkpoint(nodes)
    return final.select(
        "node", "rank_q", F.lit(stop).cast("long").alias("stop_iter")
    )


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = PAGERANK_ITERS,
    damping_pct: int = PAGERANK_DAMPING_PCT,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """(node, rank_q): personalized (seeded) fixed-point PageRank —
    the random walk restarts only at ``seeds`` (one column ``node``),
    so ranks measure proximity TO THE SEED SET rather than global
    influence: "parts co-purchased near THESE parts", the
    recommendation / expansion primitive. Same step and fixed-count
    loop as :func:`pagerank_fixedpoint` (bit-exact cross-engine); only
    the restart term differs: base_q(v) = ((100-d)·scale) DIV
    (100·n_seeds) for seed nodes, 0 elsewhere, and the walk starts from
    the seed distribution (scale DIV n_seeds on seeds, 0 elsewhere).
    Seeding every node therefore IS the global walk. Seeds outside the
    node set are ignored (their mass never enters)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    annotated, nodes, _ = _pagerank_setup(edges)
    seed_set = seeds.select("node").distinct().withColumn("is_seed", F.lit(True))
    flagged = (
        nodes.join(seed_set, "node", "left")
        .select("node", F.coalesce("is_seed", F.lit(False)).alias("is_seed"))
        .localCheckpoint(eager=True)
    )
    release_checkpoint(nodes)
    n_seeds = flagged.where("is_seed").count()
    if n_seeds == 0:
        return flagged.select("node", F.lit(0).cast("long").alias("rank_q"))
    ranks = flagged.withColumn(
        "rank_q",
        F.when(F.col("is_seed"), F.lit(scale // n_seeds))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    restart = F.when(
        F.col("is_seed"), F.lit(((100 - damping_pct) * scale) // (100 * n_seeds))
    ).otherwise(F.lit(0))
    walk = _pagerank_walk(annotated, ranks, restart, iters, damping_pct)
    return walk[-1].select("node", "rank_q")


KCORE_K = 3
KCORE_MAX_ROUNDS = 12


def kcore_nodes(
    edges: DataFrame, k: int = KCORE_K, max_rounds: int = KCORE_MAX_ROUNDS
) -> DataFrame:
    """(node, core_deg, stop_round): the k-core of the undirected
    (src < dst) edge list — the maximal subgraph where every node has
    degree >= k — by iterative peeling: drop nodes of degree < k,
    recompute degrees in the induced subgraph, repeat until stable.

    Determinism contract: everything is integer set algebra, so both
    engines walk the same peel sequence.  The live set shrinks
    monotonically, so "stable" == "this round's survivor count equals
    last round's" — ONE bounded scalar per round, probed by
    :func:`~operators.common.converge`.  The cap makes the output
    exact-equal to an oracle unrolled to the same cap REGARDLESS of
    where the fixpoint lands: if peeling stabilizes at round s <= cap
    the later unrolled rounds are no-ops; if it hasn't stabilized by
    the cap both engines agree on the round-cap set (stop_round then
    reads cap).
    core_deg is the node's degree within the final subgraph.

    Scale shape: each round is the symmetric edge list semi-joined to
    the live set on both endpoints + one keyed count — live shrinks
    every round, and real peel depths are small (measured 2-4 on the
    co-purchase graph); lineage cut per round."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    sym = symmetric_edges(edges).localCheckpoint(eager=True)
    live = sym.select("src").distinct().localCheckpoint(eager=True)

    def _peel(cur: DataFrame) -> DataFrame:
        live = cur.select("src")
        return (
            sym.join(live, "src")
            .join(live.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
            .where(F.col("core_deg") >= k)
            .localCheckpoint(eager=False)
        )

    deg, stop, _ = converge(
        live, _peel, F.count(F.lit(1)), operator.eq, max_rounds,
        prev=live.count(),
    )
    release_checkpoint(sym)  # the returned iterate reads only its own blocks
    return deg.select(
        F.col("src").alias("node"),
        "core_deg",
        F.lit(stop).cast("long").alias("stop_round"),
    )


# Wedge-generation cap (round 10 — VERDICT r9 #4): a shared neighbor of
# degree d generates C(d, 2) wedges, so one power-law hub degenerates the
# wedge join quadratically.  Neighbors with degree > WEDGE_CAP are
# excluded from wedge GENERATION (they are the graph analog of
# stop-shingles: a hub everyone touches carries no similarity signal),
# and :func:`wedge_overflow` is the standing audit of what was skipped —
# the same cap + observability contract as LSH_MAX_BUCKET /
# CONTAIN_MAX_BUCKET / the fuzzy-blocking stop keys.
WEDGE_CAP = 4


def neighbor_jaccard_pairs(
    edges: DataFrame, threshold: float = 0.5, wedge_cap: int | None = None
) -> DataFrame:
    """(node_a, node_b, n_shared, jaccard): node pairs whose NEIGHBOR
    SETS overlap — structural near-duplicates in the graph (two items
    bought alongside the same basket-mates are interchangeable even if
    never co-purchased themselves; the graph-side analog of the
    document near-dup families).

    jaccard = |N(a) ∩ N(b)| / (deg(a) + deg(b) - |N(a) ∩ N(b)|),
    candidates generated by the wedge join (pairs sharing >= 1
    neighbor), so disjoint-neighborhood pairs are never materialized.

    ``wedge_cap`` (round 10): with a cap, only shared neighbors of
    degree <= cap generate wedges — the stop-key discipline every
    blocking family here carries, closing the power-law-hub hole the
    round-9 docstring named.  n_shared then counts capped wedges only
    while the denominator keeps TRUE degrees, so the capped jaccard is
    a LOWER BOUND of the exact one: every emitted pair is real
    (precision preserved), pairs whose overlap lives only on hubs are
    missed (recall capped — :func:`wedge_overflow` is the audit).
    With ``wedge_cap=None`` (or any cap >= the max degree) the output
    is exactly the uncapped form — equality test-pinned.
    hround(6) on the single final ratio (integer numerator and
    denominator, no accumulated-float risk)."""
    sym = symmetric_edges(edges)
    deg = node_degrees(sym)
    wedge_src = sym
    if wedge_cap is not None:
        if wedge_cap < 1:
            raise ValueError(f"wedge_cap must be >= 1, got {wedge_cap}")
        ok = deg.where(F.col("deg") <= wedge_cap).select("src")
        wedge_src = sym.join(ok, "src")
    w1 = wedge_src.select(F.col("src").alias("n"), F.col("dst").alias("node_a"))
    w2 = wedge_src.select(F.col("src").alias("n"), F.col("dst").alias("node_b"))
    shared = (
        w1.join(w2, "n")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    da = deg.select(F.col("src").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("node_b"), F.col("deg").alias("deg_b"))
    jac = F.col("n_shared") / (
        F.col("deg_a") + F.col("deg_b") - F.col("n_shared")
    )
    return (
        shared.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_shared",
            hround(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def wedge_overflow(edges: DataFrame, wedge_cap: int = WEDGE_CAP) -> DataFrame:
    """(node, deg, wedges_skipped): the standing audit for the capped
    wedge join — every hub :func:`neighbor_jaccard_pairs` excluded from
    wedge generation, with the C(deg, 2) wedge count the cap saved.
    Empty output == the cap never bound == capped ≡ exact; non-empty
    rows quantify the recall trade exactly (the fuzzy_phonetic_overflow
    / dedup_containment_overflow observability contract).  One degree
    agg + one filter — no join at all."""
    if wedge_cap < 1:
        raise ValueError(f"wedge_cap must be >= 1, got {wedge_cap}")
    deg = node_degrees(symmetric_edges(edges))
    return deg.where(F.col("deg") > wedge_cap).select(
        F.col("src").alias("node"),
        "deg",
        (F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("wedges_skipped"),
    )


def pagerank_l1_trajectory(
    edges: DataFrame,
    iters: int = PAGERANK_ITERS,
    damping_pct: int = PAGERANK_DAMPING_PCT,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """(iter, l1_delta_q): the L1 distance (in rank nano-units) between
    successive fixed-point iterates — the standing CONVERGENCE AUDIT for
    the PageRank loop. Fixed iteration counts without a convergence
    check are an act of faith; this audit makes the trajectory a
    first-class, exactly-checkable artifact (all quantities integers, so
    the cross-engine comparison is exact). A healthy damped walk
    contracts geometrically (factor ≈ damping); a regression in the
    update rule — wrong degree join, dropped base term, oscillation —
    shows up as a non-shrinking tail. The iterates are
    :func:`pagerank_fixedpoint`'s (:func:`_pagerank_walk`); each delta
    is one 1-row agg over an iterate's own ``prev_q`` and ``rank_q``."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    annotated, nodes, n = _pagerank_setup(edges)
    if n == 0:
        return nodes.sparkSession.createDataFrame(
            [], "iter long, l1_delta_q long"
        )
    ranks = nodes.withColumn("rank_q", F.lit(scale // n).cast("long"))
    restart = F.lit(((100 - damping_pct) * scale) // (100 * n))
    walk = _pagerank_walk(annotated, ranks, restart, iters, damping_pct)
    # each iterate carries prev_q, so every delta is a plain agg
    return reduce(
        lambda a, b: a.unionByName(b),
        (
            it.agg(
                F.lit(i).cast("long").alias("iter"),
                F.sum(F.abs(F.col("rank_q") - F.col("prev_q")))
                .cast("long")
                .alias("l1_delta_q"),
            )
            for i, it in enumerate(walk, start=1)
        ),
    )
