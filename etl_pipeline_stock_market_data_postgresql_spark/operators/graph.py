"""Iterative graph operators on one iteration core: exact integer
PageRank and k-core peeling.

PageRank is the link-quality signal large-scale corpus curation
actually uses (Common Crawl's host-level ranks gate what gets crawled
and kept; Gopher/CCNet-style pipelines consume URL/host quality
priors), and it is the canonical iterate-over-a-distributed-graph
workload: every iteration is one join (ranks -> out-edges) and one
map-side-combinable aggregate (contributions -> new ranks), shuffle
cost ~ |edges| per round.

Exactness contract (cross-engine, the repo-wide integer playbook):
ranks live in integer micro-units (1.0 == 1_000_000). The damping
multiply and per-out-degree split happen in ONE integer floor-division
``(r * DAMP_NUM) div (DAMP_DEN * outdeg)`` — both engines floor
identically on non-negative BIGINTs — and the teleport term is the
integer constant ``TELEPORT = (DAMP_DEN - DAMP_NUM) * SCALE / DAMP_DEN``.
No float touches the state, so V iterations stay bit-identical to the
unrolled-CTE oracle at any parallelism.

One iteration core: :func:`iterate` runs every iterative graph loop —
both PageRanks, both k-core peels and the distributed rounds of
``dedup.connected_components``. An operator supplies only its step
function, plus a scalar witness when it runs to a fixpoint or a
per-round observer when it reports a trajectory. The lineage-cut policy
lives only in the core, and one rule derives every cut: a new state is
cut with one DISK_ONLY ``localCheckpoint`` (:func:`cut`) exactly when
something reads it later — another round, the witness or the observer.
A fixed-round loop therefore skips the last cut (the state's only
reader is the caller's next op), and a witnessed or observed loop cuts
every round. The cut truncates lineage because an iterative join
doubles its plan tree per round; DISK_ONLY because node-table-sized
state must never unroll through the heap (the q114 lesson).

Scale design:
- Contributions aggregate BEFORE the rank update join (map-side
  combine on dst), so the per-round shuffle is |edges| once, not
  |edges| x consumers.
- Dangling nodes (outdeg 0) would leak mass; callers dealing with
  directed graphs must either add both directions (undirected
  semantics, what q128 does) or pre-drop danglers. The operator
  asserts nothing and documents the contract instead of scanning for
  violations (a full outdeg==0 check would cost an extra pass per
  call; tests pin the behavior).

Reference parity: the reference has no graph operators — this is a
beyond-reference capability (BASELINE.json north star) alongside
``dedup.connected_components``.

``kcore_peel`` shares the playbook: degree-threshold peeling is the
other workhorse graph-quality signal (spam/mirror farms live in
low-core shells; k-core membership is a classic crawl-frontier and
link-spam feature), and each peel round is the same shuffle shape —
one map-side-combinable degree aggregate plus semi-joins keyed on the
node id, all integers end to end.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

RANK_SCALE = 1_000_000   # micro-units of rank mass per node at init
DAMP_NUM, DAMP_DEN = 17, 20          # damping d = 0.85 as a ratio
TELEPORT = (DAMP_DEN - DAMP_NUM) * RANK_SCALE // DAMP_DEN  # (1-d)*SCALE


def cut(df: DataFrame) -> DataFrame:
    """``df`` materialized now as local DISK_ONLY blocks, lineage
    truncated — the one lineage cut of every iterative graph operator."""
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def iterate(state: DataFrame, step: Callable[[DataFrame], DataFrame],
            rounds: int, until: Optional[Callable] = None,
            observe: Optional[Callable] = None) -> tuple:
    """Run ``state = step(state)`` up to ``rounds`` times and return
    ``(state, ran, converged, observed)``.

    ``until(state)`` is a scalar witness, read on the input state and
    after every round: the loop stops, converged, at the first round
    whose witness equals the previous one, and ``ran`` counts that
    proving round (``ran == rounds`` when the cap is hit).
    ``observe(i, prev, new)`` returns one row per round i (1-based);
    ``observed`` lists them in round order. Without a witness ``ran`` is
    ``rounds`` and ``converged`` is false.

    A new state is cut (:func:`cut`) only when something reads it
    later: another round, the witness or the observer. The input state
    is the caller's to cut. Each round's jobs carry the description
    ``<step name> round i/rounds``, appended to the caller's description,
    which is restored on every exit path."""
    sc = state.sparkSession.sparkContext
    outer = sc.getLocalProperty("spark.job.description")
    prev = until(state) if until else None
    observed, ran, converged = [], 0, False
    try:
        for ran in range(1, rounds + 1):
            label = f"{step.__name__} round {ran}/{rounds}"
            sc.setJobDescription(f"{outer} | {label}" if outer else label)
            new = step(state)
            if ran < rounds or until or observe:
                new = cut(new)
            if observe:
                observed.append(observe(ran, state, new))
            state = new
            if until:
                witness = until(state)
                if witness == prev:
                    converged = True
                    break
                prev = witness
    finally:
        sc.setJobDescription(outer)
    return state, ran, converged, observed


def _out_degree(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))


def _pagerank(edges: DataFrame, iters: int, observe=None):
    """Both PageRanks: cut the edge list (three consumers — without a
    cut the caller's edge derivation re-runs per consumer, the
    q113/q120 fan-out lesson), the node set and the degree-annotated
    edges (re-read every round) and r0, then :func:`iterate` the rank
    update."""
    edges = cut(edges)
    nodes = cut(edges.select(F.col("src").alias("node"))
                .union(edges.select(F.col("dst").alias("node")))
                .distinct())
    ed = cut(edges.join(_out_degree(edges).hint("merge"), "src")
             .select("src", "dst", "deg"))

    def pagerank(r: DataFrame) -> DataFrame:
        # every join here is node-table-sized on at least one side; pin
        # them to shuffle joins (merge hint) — Catalyst's static
        # estimator sees a small checkpointed rank table and broadcasts
        # it, which works at test SF but is a driver-memory cliff once
        # nodes outgrow the broadcast budget (the 100x probe showed a
        # 512 MB broadcast-exchange). Shuffle-on-node is the
        # scale-correct plan: no table is materialized whole anywhere.
        summed = (ed.join(r.hint("merge"), ed["src"] == r["node"])
                  .select(F.col("dst").alias("node"),
                          F.expr(f"(rank_micro * {DAMP_NUM}L) div "
                                 f"({DAMP_DEN}L * deg)").alias("c"))
                  .groupBy("node").agg(F.sum("c").alias("s")))
        return (nodes.join(summed.hint("merge"), "node", "left")
                .select("node", (F.lit(TELEPORT).cast("long")
                                 + F.coalesce(F.col("s"),
                                              F.lit(0).cast("long"))
                                 ).alias("rank_micro")))

    r0 = cut(nodes.select("node",
                          F.lit(RANK_SCALE).cast("long").alias("rank_micro")))
    return iterate(r0, pagerank, iters, observe=observe)


def pagerank_exact(edges: DataFrame, iters: int) -> DataFrame:
    """(node, rank_micro) after ``iters`` exact-integer PageRank rounds
    over the directed edge list (src long, dst long). Every node that
    appears as a src must have its in-edges present too (see module
    docstring on danglers); rank mass initializes to RANK_SCALE per
    node. The final rank state is not cut: its only reader is the
    caller's next op."""
    return _pagerank(edges, iters)[0]


def _residual(i: int, prev: DataFrame, new: DataFrame) -> DataFrame:
    d = (prev.select("node", F.col("rank_micro").alias("prev"))
         .join(new.hint("merge"), "node")
         .select((F.col("rank_micro") - F.col("prev")).alias("d")))
    return (d.agg(F.max(F.abs(F.col("d"))).alias("max_abs_delta"),
                  F.sum(F.abs(F.col("d"))).alias("sum_abs_delta"),
                  F.count(F.when(F.col("d") != 0, 1)).alias("n_changed"))
            .select(F.lit(i).cast("int").alias("iter"),
                    "max_abs_delta", "sum_abs_delta", "n_changed"))


def pagerank_with_residuals(edges: DataFrame,
                            iters: int) -> tuple[DataFrame, DataFrame]:
    """:func:`pagerank_exact` plus the convergence trajectory: returns
    ``(ranks, residuals)`` where ``residuals`` has one row per
    iteration — (iter, max_abs_delta, sum_abs_delta, n_changed), the
    per-round rank movement in exact micro-units. max|Δ| is the L∞
    residual convergence monitoring actually thresholds on ("stop when
    no rank moved more than ε"); sumΔ/n_changed give the L1 and
    support views of the same trajectory. A production curation
    pipeline gates on rank STABILITY, not a fixed round count — this is
    the measurement that decides when the fixed-V contract (q128) is
    enough.

    Exactness: deltas subtract two exact-integer rank states, so every
    residual is an exact BIGINT and the whole trajectory is
    bit-identical to the unrolled-CTE oracle (q135 gates all three
    columns per round).

    Scale shape: the same call as pagerank_exact with a residual
    observer — one node-sized join per round for the delta
    (merge-hinted, same broadcast-cliff reasoning as the rank-update
    join) reduced to a 1-row aggregate; the residual table is ``iters``
    rows total. Because the observer reads every state, every round's
    rank state is cut, the last one included."""
    ranks, _, _, rows = _pagerank(edges, iters, observe=_residual)
    return ranks, reduce(DataFrame.unionByName, rows)


def _peel(k: int) -> Callable[[DataFrame], DataFrame]:
    def kcore(ed: DataFrame) -> DataFrame:
        alive = _out_degree(ed).filter(F.col("deg") >= k).select("src")
        return (ed.join(alive.hint("merge"), "src", "left_semi")
                .join(alive.withColumnRenamed("src", "dst").hint("merge"),
                      "dst", "left_semi"))
    return kcore


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """(node, deg) of the nodes still carrying edges after ``rounds``
    degree-threshold peel iterations over the directed edge list
    (src long, dst long): each round drops every node whose current
    out-degree is < k, then removes all edges touching a dropped node.
    For an undirected graph stored with both directions, out-degree is
    THE degree and the peel is the textbook k-core recurrence.

    Bounded-round semantics (not the fixpoint): ``deg`` is recomputed
    on the final edge set, so a node the NEXT round would peel still
    appears — exactly what the unrolled-CTE oracle computes, so the
    driver hash certifies the whole trajectory. For the true k-core
    use :func:`kcore_fixpoint`.

    Scale shape per round: one map-side-combinable degree aggregate
    (shuffle ∝ |edges|, combine on src) and two semi-joins against the
    node-sized survivor set — pinned to shuffle joins (merge hint) for
    the same broadcast-cliff reason as pagerank_exact. The final edge
    set is not cut: its only reader is the degree aggregate."""
    ed = iterate(cut(edges), _peel(k), rounds)[0]
    return _out_degree(ed).withColumnRenamed("src", "node")


def kcore_fixpoint(edges: DataFrame, k: int,
                   max_rounds: int = 100) -> tuple[DataFrame, int]:
    """(node, deg) of the TRUE k-core: peel until the surviving EDGE
    count stops changing (each pass runs one :func:`kcore_peel` round
    and pays one driver-side count as the convergence check — the
    standard driver-coordinated fixpoint, same core as the dedup
    connected-components loop). The witness is the edge count, not the
    node count: on a directed graph with sink-only dst nodes the edge
    set can shrink in a round while the distinct-src count stays
    constant, so a node-count witness could terminate before the true
    core — and edges.count() is the cheaper scan anyway (no distinct
    shuffle). An unchanged edge count is sound on any edge list: the
    peel only ever removes edges, so equal counts mean the alive filter
    kept every src and dropped nothing, i.e. the next round would be
    identical. ``max_rounds`` bounds pathological chains (a path graph
    peels one layer per round); the peel count needed is at most the
    graph's degeneracy ordering depth, tiny for real-world graphs.

    Returns ``(core_df, rounds_used)`` where ``rounds_used`` counts the
    peel passes executed INCLUDING the final no-op pass that proved the
    fixpoint — the state is fixed after ``rounds_used - 1`` effective
    peels, so callers certifying convergence-within-R compare
    ``rounds_used - 1 <= R`` (as q136 does, relational.py). When the
    cap is hit without a proof, ``rounds_used == max_rounds``.

    Not oracle-gated directly: the round count is data-dependent, which
    an unrolled-CTE oracle cannot express — q136 gates it anyway by
    certifying ``rounds_used`` against a statically-unrolled bound, and
    unit tests pin it against a driver-side reference (the documented
    weaker-check class)."""
    ed, rounds_used, _, _ = iterate(cut(edges), _peel(k), max_rounds,
                                    until=DataFrame.count)
    return _out_degree(ed).withColumnRenamed("src", "node"), rounds_used
