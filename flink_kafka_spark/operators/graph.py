"""Iterative graph algorithms beyond connected components (which lives
with its dedup consumers in operators/dedup.py).

PageRank here is the corpus-curation use: rank crawl sources/domains by
overlap centrality so corpus-merge decisions (which near-duplicate
crawl to keep, which source to down-weight) have a principled score —
the same role harmonic-centrality/PageRank plays in public web-corpus
quality pipelines.

Determinism contract: the iteration is FIXED-POINT INTEGER arithmetic
(rank mass in `unit` = 1e9 units, floor division everywhere), so the
result is bit-identical across engines, partitionings and runs — a
DuckDB oracle replays the exact same iterations with `//` where Spark
uses `div` (both truncate; all operands here are non-negative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pr_round(
    e: DataFrame,
    ranks: DataFrame,
    zeros: DataFrame,
    teleport: int,
    damping_pct: int,
) -> DataFrame:
    """One PageRank round: the rank-side join onto the persisted
    (src, dst, w, wsum) edge frame, then the groupBy(dst) fold with the
    zero-contribution rows unioned in (dangling nodes settle at the
    teleport floor without any node-sized broadcast). Shared by the
    iteration loop in :func:`pagerank` and the plan-audit surface
    :func:`pagerank_loop_body` so the audited plan IS the executed
    round, by construction."""
    contrib = e.join(ranks, e["src"] == ranks["node"]).select(
        F.col("dst").alias("node"), F.expr("(r * w) div wsum").alias("c")
    )
    return (
        contrib.unionByName(zeros)
        .groupBy("node")
        .agg(F.sum("c").alias("s"))
        .select(
            "node",
            (F.lit(teleport) + F.expr(f"({damping_pct} * s) div 100"))
            .cast("long")
            .alias("r"),
        )
    )


def _pr_inputs(
    edges: DataFrame, nodes: DataFrame, id_col: str, persist: bool
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """The loop-invariant frames of a PageRank run, shared by
    :func:`pagerank` and :func:`pagerank_loop_body`: the node frame,
    the (src, dst, w, wsum) edge frame and the zero-contribution rows.
    With ``persist`` the node and edge frames are persisted and
    registered with caching.track (released at the next registered-
    query boundary).

    The per-src weight sums are joined onto the edges ONCE here, with
    no broadcast hint: wsum is NODE-COUNT-sized, so a forced broadcast
    is a driver collect that dies on the 8 GB ceiling for a
    billion-node graph, while AQE broadcasts it at runtime whenever it
    is genuinely small (the bounded source-level query here) and
    degrades to a co-partitioned shuffle otherwise — and both frames
    are persisted, so either plan executes exactly once. The edge
    frame is pre-partitioned on src before the persist (guide §2.4
    "two operations keyed the same way can share one exchange") — the
    CC loop's _sym_edges discipline: every round joins the rank frame
    on e.src, so a persisted hash(src) layout lets the planner satisfy
    the join's edge-side distribution from the cache instead of
    re-exchanging the (billion-edge at scale) frame each round; one
    extra setup exchange buys `iterations` elided ones.

    The zero-contribution rows folded into the per-round groupBy give
    every node a sum (a dangling node's is the +0 row) without a
    node-sized join or broadcast — the summed frame never crosses the
    driver even for a billion-node graph."""
    node_frame = nodes.select(F.col(id_col).alias("node"))
    wsum = edges.groupBy("src").agg(F.sum("w").alias("wsum"))
    e = edges.join(wsum, "src").select("src", "dst", "w", "wsum").repartition("src")
    if persist:
        from ..caching import track

        node_frame = track(node_frame.persist())
        e = track(e.persist())
    zeros = node_frame.select("node", F.lit(0).cast("long").alias("c"))
    return node_frame, e, zeros


def pagerank_loop_body(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    damping_pct: int = 85,
    unit: int = 1_000_000_000,
    cache_inputs: bool = False,
) -> DataFrame:
    """Plan-audit surface (r15 verdict item 2): the UN-CHECKPOINTED
    frame of one iteration round, exactly as :func:`pagerank`'s loop
    builds it (the shared :func:`_pr_inputs` and :func:`_pr_round`),
    applied to the round-0 rank frame. ``explain()`` on the frame
    :func:`pagerank` RETURNS sees only a localCheckpoint scan — the
    lineage cut that keeps Catalyst analysis O(1) also blinds every
    plan audit to the loop body, which is where PageRank's actual
    per-round cost (one edges-sized join + one groupBy(dst) shuffle)
    lives. PLANS.md and tests/test_plans.py explain THIS frame instead.

    With ``cache_inputs=False`` (the pytest pins) nothing persists and
    no job runs: plan shape only, upstream lineage shown raw.
    ``cache_inputs=True`` (the PLANS.md rows) persists the precomputed
    edge and node frames exactly as :func:`pagerank` does, so the
    explained plan reads them as InMemoryRelation and shows ONLY the
    per-round cost — the number a capacity plan multiplies by the
    iteration count. Either way teleport/base divide by the
    driver-scalar node count, pinned to 1 here so no count() job runs
    (plan shape is independent of literal values)."""
    node_frame, e, zeros = _pr_inputs(edges, nodes, id_col, cache_inputs)
    ranks = node_frame.withColumn("r", F.lit(unit).cast("long"))
    teleport = (100 - damping_pct) * unit // 100
    return _pr_round(e, ranks, zeros, teleport, damping_pct)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    iterations: int = 12,
    damping_pct: int = 85,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Weighted PageRank over ``edges (src, dst, w BIGINT)`` and
    ``nodes (id_col)``: ``iterations`` fixed rounds of

        r'(v) = teleport + (damping_pct * sum_{u->v} (r(u)*w(u,v) div
                wsum(u))) div 100,
        teleport = ((100-damping_pct) * (unit div N)) div 100

    starting from r0 = unit div N. Dangling nodes (no out-edges)
    contribute nothing and settle at the teleport floor; their leaked
    mass is NOT redistributed (deterministic, documented — rank order
    is unaffected for the connected bulk).

    PRECONDITION: every edge endpoint (src AND dst) must appear in
    ``nodes``. A dst outside ``nodes`` emits a phantom rank row for it
    (the per-round groupBy folds zero rows for ``nodes`` only, it does
    not filter contributions), and a src outside ``nodes`` silently
    contributes nothing after round 0 — while N/teleport are computed
    from ``nodes`` alone either way. All in-repo callers derive nodes
    and edges from the same frame; external callers must too.

    Scale shape: the weighted-out-degree join is precomputed ONCE into
    a persisted (src, dst, w, wsum) frame (:func:`_pr_inputs`); each
    round then costs one rank-frame join onto it plus one edges-sized
    groupBy(dst) shuffle — the inherent PageRank cost. The rank-side
    join carries no hint: the planner (and AQE at runtime) picks the
    join, which localizes tiny rank frames anyway and — the scale
    contract — never plans a driver-side broadcast build of a
    billion-node rank frame. A hinted rank join also costs one
    broadcast-collect JOB per round (the hint forces a collect even
    when the frame is already cached), measured 6.6 s vs 3.8 s for the
    12-round loop at sf0.1. N is a single-int driver scalar (same
    justification as the CC convergence probe). The rank frame's
    lineage is cut through operators/iterate.py:LineageCuts every
    CHK_EVERY=3 rounds, with an explicit count() as the materializing
    action; the final cut backs the returned frame and is released at
    the next query boundary."""
    from .iterate import LineageCuts

    node_frame, e, zeros = _pr_inputs(edges, nodes, id_col, persist=True)
    n = node_frame.count()
    if n == 0:
        raise ValueError(
            "pagerank: empty node frame — nothing to rank (base rank "
            "unit div N is undefined)"
        )
    # loud precondition: every edge dst must be a declared node. The
    # old node_frame-LEFT-JOIN formulation silently DROPPED outside
    # dsts each round; the zeros-union rewrite would instead emit
    # phantom rank rows computed against the wrong N — neither is what
    # the caller meant, so fail at build time (one edges pass; the
    # loop pays an edges-sized join per round anyway). src endpoints
    # need no check: the inner rank join drops unknown srcs in both
    # formulations identically.
    dangling = edges.join(
        node_frame, edges["dst"] == node_frame["node"], "left_anti"
    )
    if dangling.limit(1).count():
        raise ValueError(
            "pagerank: edges reference dst nodes absent from `nodes` — "
            "pass a node frame covering every dst endpoint"
        )
    base = unit // n
    teleport = (100 - damping_pct) * base // 100
    ranks = node_frame.withColumn("r", F.lit(base).cast("long"))
    # Cut every CHK_EVERY rounds, not every round: the cut only needs
    # to keep the analyzed tree SHALLOW (depth <= 3 is cheap for
    # Catalyst), and results are identical wherever the lineage is cut
    # (pure integer arithmetic). With no cut at all the 12 rounds took
    # 49 s at sf0.1 vs ~4 s batched. The loop's only job barriers are
    # the CHK_EVERY materializations (4 for 12 rounds); measured
    # cadence sweep at sf0.1 (3 trials, min): chk2 4.0 s, chk3 3.7 s,
    # chk4 3.7 s, chk6 4.3 s — flat around 3, so CHK_EVERY=3 stands.
    CHK_EVERY = 3
    with LineageCuts(edges.sparkSession.sparkContext) as cuts:
        for i in range(iterations):
            ranks = _pr_round(e, ranks, zeros, teleport, damping_pct)
            if (i + 1) % CHK_EVERY == 0 or i + 1 == iterations:
                ranks = cuts.cut(ranks)
                ranks.count()
                cuts.materialized()
    return ranks.select("node", F.col("r").alias("rank_e9"))
