"""Semantic invariants for the late round-9 operators (q125-q128) —
properties that must hold on ANY input, complementing the differential
oracle in test_oracle_parity.py (which proves Spark == DuckDB; these
prove both engines compute the *right kind* of answer).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.operators.similarity import COV_SCALE
from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import load
from etl_pipeline_stock_market_data_postgresql_spark.workload.relational import (
    LINK_MAX_DIST, q125_fuzzy_linkage)
from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
    COV_DIM, COV_TOPK, q126_embedding_covariance)
from etl_pipeline_stock_market_data_postgresql_spark.workload.storage import (
    Q127_LEGACY, Q127_SPLIT, q127_schema_evolution)


def _lev(a: str, b: str) -> int:
    """Reference Wagner-Fischer edit distance (unit costs)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


# --- q125: token-blocked edit-distance linkage ----------------------------

def test_fuzzy_linkage_matches_bruteforce_over_distinct_names(spark, sf_dir):
    rows = q125_fuzzy_linkage(spark, sf_dir).collect()
    names = {r["p_name"]: r["cnt"] for r in
             load(spark, sf_dir, "part")
             .groupBy("p_name").agg(F.count("*").alias("cnt")).collect()}
    # brute force over the distinct-name table (small by vocab bound)
    expected = set()
    for a in names:
        for b in names:
            if a < b and set(a.split()) & set(b.split()) \
                    and _lev(a, b) <= LINK_MAX_DIST:
                expected.add((a, b))
    got = {(r.name_a, r.name_b) for r in rows}
    assert got == expected
    for r in rows:
        assert r.name_a < r.name_b
        assert r.lev_dist == _lev(r.name_a, r.name_b)
        assert r.n_parts_a == names[r.name_a]
        assert r.n_parts_b == names[r.name_b]


def test_fuzzy_linkage_pairs_are_unique(spark, sf_dir):
    rows = q125_fuzzy_linkage(spark, sf_dir).collect()
    pairs = [(r.name_a, r.name_b) for r in rows]
    assert len(pairs) == len(set(pairs))


# --- q126: exact embedding covariance -------------------------------------

def test_embedding_covariance_matches_numpy_exact(spark, sf_dir):
    import numpy as np

    rows = q126_embedding_covariance(spark, sf_dir).collect()
    assert len(rows) == COV_TOPK
    vecs = [r["embedding"] for r in
            load(spark, sf_dir, "embeddings").select("embedding").collect()]
    x = np.array(vecs, dtype=np.float32).astype(np.float64)
    q = np.floor(x * float(COV_SCALE) + 0.5).astype(object)  # exact ints
    n = len(vecs)
    c = q.T @ q
    s = q.sum(axis=0)
    num = {}
    for i in range(COV_DIM):
        for j in range(i + 1, COV_DIM):
            num[(i, j)] = n * c[i, j] - s[i] * s[j]
    ranked = sorted(num, key=lambda k: (-abs(num[k]), k))[:COV_TOPK]
    got = [(r.dim_i, r.dim_j) for r in rows]
    assert got == ranked
    denom = float(n) * float(n) * float(COV_SCALE) ** 2
    for r in rows:
        assert 0 <= r.dim_i < r.dim_j < COV_DIM
        assert abs(r.cov - int(num[(r.dim_i, r.dim_j)]) / denom) < 1e-8


def test_embedding_covariance_rank_is_by_exact_magnitude(spark, sf_dir):
    rows = q126_embedding_covariance(spark, sf_dir).collect()
    mags = [abs(r.cov) for r in rows]
    # rounding at 9 decimals cannot reorder beyond a half-ulp of 1e-9
    for a, b in zip(mags, mags[1:]):
        assert a >= b - 1e-9


# --- q127: schema-evolution read ------------------------------------------

def test_schema_evolution_accounts_for_every_order(spark, sf_dir):
    rows = q127_schema_evolution(spark, sf_dir).collect()
    orders = load(spark, sf_dir, "orders")
    split = F.to_timestamp(F.lit(Q127_SPLIT))
    n_total = orders.count()
    n_legacy = orders.filter(F.col("o_orderdate") < split).count()
    by_status = {r.status: r.n_orders for r in rows}
    assert sum(by_status.values()) == n_total
    assert by_status.get(Q127_LEGACY, 0) == n_legacy
    current_statuses = {
        r["o_orderstatus"] for r in
        orders.filter(F.col("o_orderdate") >= split)
        .select("o_orderstatus").distinct().collect()}
    assert set(by_status) - {Q127_LEGACY} == current_statuses
    assert Q127_LEGACY not in current_statuses  # label cannot collide


def test_schema_evolution_merged_read_carries_union_schema(spark, sf_dir):
    # the gated aggregate hides the schema; assert the mechanism directly
    import os

    from etl_pipeline_stock_market_data_postgresql_spark.sources.derived_cache import scratch_base
    q127_schema_evolution(spark, sf_dir).collect()
    base, _ = scratch_base(sf_dir)
    merged = (spark.read.option("mergeSchema", "true")
              .parquet(os.path.join(base, "evolve_legacy"),
                       os.path.join(base, "evolve_current")))
    assert "o_orderstatus" in merged.columns
    legacy_nulls = merged.filter(F.col("o_orderstatus").isNull()).count()
    split = F.to_timestamp(F.lit(Q127_SPLIT))
    n_legacy = (load(spark, sf_dir, "orders")
                .filter(F.col("o_orderdate") < split).count())
    assert legacy_nulls == n_legacy


# --- q128: exact integer PageRank -----------------------------------------

def _pagerank_ref(edges, iters):
    """Driver-side reference of the exact-integer PageRank recurrence."""
    from collections import defaultdict

    from etl_pipeline_stock_market_data_postgresql_spark.operators.graph import (
        DAMP_DEN, DAMP_NUM, RANK_SCALE, TELEPORT)
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    nodes = {n for e in edges for n in e}
    r = {n: RANK_SCALE for n in nodes}
    for _ in range(iters):
        acc = defaultdict(int)
        for u, v in edges:
            acc[v] += (r[u] * DAMP_NUM) // (DAMP_DEN * outdeg[u])
        r = {n: TELEPORT + acc.get(n, 0) for n in nodes}
    return r


def test_pagerank_matches_reference_on_handcrafted_graph(spark):
    from etl_pipeline_stock_market_data_postgresql_spark.operators.graph import pagerank_exact
    # undirected triangle 1-2-3 plus a pendant 4 attached to 1: degrees
    # differ, so the split and teleport terms are all exercised
    und = [(1, 2), (2, 3), (1, 3), (1, 4)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (0, 1, 3):
        got = {r.node: r.rank_micro
               for r in pagerank_exact(df, iters).collect()}
        assert got == _pagerank_ref(edges, iters)


def test_pagerank_query_shape(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.operators.graph import TELEPORT
    from etl_pipeline_stock_market_data_postgresql_spark.workload.relational import (
        PR_TOPK, q128_pagerank)
    rows = q128_pagerank(spark, sf_dir).collect()
    assert len(rows) == PR_TOPK
    assert all(r.node_type in ("customer", "supplier") for r in rows)
    ranks = [r.rank_micro for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r.rank_micro >= TELEPORT for r in rows)


# --- q129: Pareto frontier -------------------------------------------------

def test_pareto_frontier_is_exactly_the_nondominated_set(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.workload.pipeline_ops import (
        PARETO_SCALE, q129_pareto_frontier)
    got = {(r.alpha_pm, r.max_chars): r.n_docs
           for r in q129_pareto_frontier(spark, sf_dir).collect()}
    # brute-force reference: quantized levels, O(L^2) dominance check
    docs = load(spark, sf_dir, "documents") \
        .filter(F.col("n_chars") > 0) \
        .selectExpr(
            f"(CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) AS LONG)"
            f" * {PARETO_SCALE}) div n_chars AS pm", "n_chars").collect()
    from collections import Counter, defaultdict
    ymax: dict = defaultdict(int)
    cnt: Counter = Counter()
    for r in docs:
        ymax[r.pm] = max(ymax[r.pm], r.n_chars)
        cnt[r.pm] += 1
    ref = {(pm, y): cnt[pm] for pm, y in ymax.items()
           if not any(pm2 > pm and y2 >= y for pm2, y2 in ymax.items())}
    assert got == ref
    # staircase shape: strictly increasing quality => strictly
    # decreasing max length across the frontier
    pts = sorted(got)
    assert all(a[1] > b[1] for a, b in zip(pts, pts[1:]))


# --- q130: DSIR importance resampling --------------------------------------

def test_importance_resample_shifts_mix_toward_target(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.workload.training_ops import (
        DSIR_TARGET_SOURCE, q130_importance_resample)
    rows = q130_importance_resample(spark, sf_dir).collect()
    by_src = {r.source: r for r in rows}
    docs = load(spark, sf_dir, "documents")
    # full accounting: every corpus doc appears in exactly one source row
    assert sum(r.n_docs for r in rows) == docs.count()
    assert all(0 <= r.n_kept <= r.n_docs for r in rows)
    assert all(r.kept_chars >= 0 for r in rows)
    # the point of the operator: the target slice keeps a higher
    # fraction than the non-target aggregate (it IS the distribution
    # the weights are matched to)
    tgt = by_src[DSIR_TARGET_SOURCE]
    others_kept = sum(r.n_kept for r in rows) - tgt.n_kept
    others_docs = sum(r.n_docs for r in rows) - tgt.n_docs
    assert tgt.n_kept * others_docs > others_kept * tgt.n_docs


# --- q131: k-core peel -------------------------------------------------------

def _kcore_ref(edges, k, rounds):
    from collections import Counter
    e = list(edges)
    for _ in range(rounds):
        deg = Counter(s for s, _ in e)
        alive = {n for n, d in deg.items() if d >= k}
        e = [(s, d) for s, d in e if s in alive and d in alive]
    return dict(Counter(s for s, _ in e))


def test_kcore_cascade_matches_reference_on_path_graph(spark):
    from etl_pipeline_stock_market_data_postgresql_spark.operators.graph import kcore_peel
    # path 1-2-3-4-5-6: k=2 peels both endpoints each round — a pure
    # cascade (each round creates the next round's victims)
    und = [(i, i + 1) for i in range(1, 6)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    for rounds in (0, 1, 2, 3):
        got = {r.node: r.deg for r in kcore_peel(df, 2, rounds).collect()}
        assert got == _kcore_ref(edges, 2, rounds), rounds
    # round 3 has peeled everything (6-node path dies in 3 rounds of
    # endpoint removal)
    assert kcore_peel(df, 2, 3).count() == 0


def test_kcore_query_shape(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.workload.relational import q131_kcore
    rows = q131_kcore(spark, sf_dir).collect()
    by = {r.node_type: r for r in rows}
    assert set(by) <= {"customer", "supplier"}
    # both directions of every surviving edge are present, so the two
    # node types' degree sums are equal (bipartite double counting)
    if len(by) == 2:
        assert by["customer"].sum_deg == by["supplier"].sum_deg
    assert all(r.max_deg <= r.sum_deg for r in rows)


# --- q132: token-budget prefix fill -----------------------------------------

def test_token_budget_fill_invariants(spark, sf_dir):
    from etl_pipeline_stock_market_data_postgresql_spark.functions import textstats
    from etl_pipeline_stock_market_data_postgresql_spark.functions.hashing import hash32
    from etl_pipeline_stock_market_data_postgresql_spark.workload.pipeline_ops import (
        TB_BUDGET, q132_token_budget_fill)
    rows = q132_token_budget_fill(spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == docs.count()
    assert all(0 <= r.tokens_kept <= TB_BUDGET for r in rows)
    assert all(0 <= r.n_kept <= r.n_docs for r in rows)
    # maximality: the prefix can't be extended — recompute each source's
    # hash-ordered doc list on the driver and check the (n_kept+1)-th
    # doc would blow the budget
    d = docs.select(
        "doc_id", "source",
        textstats.token_count(F.col("text")).cast("long").alias("n_tok"),
        hash32(F.concat(F.lit("tb:"), F.col("doc_id").cast("string")))
        .alias("h")).collect()
    from collections import defaultdict
    per_src = defaultdict(list)
    for r in d:
        per_src[r.source].append((r.h, r.doc_id, r.n_tok))
    for r in rows:
        toks = [t for _, _, t in sorted(per_src[r.source])]
        assert sum(toks[:r.n_kept]) == r.tokens_kept
        if r.n_kept < r.n_docs:
            assert r.tokens_kept + toks[r.n_kept] > TB_BUDGET


def test_kcore_fixpoint_reaches_the_true_core(spark):
    from etl_pipeline_stock_market_data_postgresql_spark.operators.graph import kcore_fixpoint
    # triangle 1-2-3 with a pendant path 3-4-5: the 2-core is exactly
    # the triangle, reached only after the cascade peels 5 then 4
    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    core, rounds = kcore_fixpoint(df, 2)
    got = {r.node: r.deg for r in core.collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # peel 5, peel 4, then the no-op pass that proves the fixpoint
    assert rounds == 3
    # k above the max degree: everything peels, empty core
    empty, _ = kcore_fixpoint(df, 5)
    assert empty.count() == 0


def test_kcore_fixpoint_edge_count_witness_on_directed_sinks(spark):
    """The ADVICE-flagged case: a DIRECTED edge list where round 1
    removes edges (those pointing at the peeled sink) while the
    distinct-src count stays constant — srcs 1 and 2 both survive round
    1 with k=2 (out-degree 2 each) but lose their edges into sink 3, so
    a node-count witness would declare convergence with {1, 2} at
    degree 1 < k. The edge-count witness sees 4 -> 2 -> 0 and peels to
    the true (empty) core."""
    from etl_pipeline_stock_market_data_postgresql_spark.operators.graph import kcore_fixpoint
    df = spark.createDataFrame([(1, 2), (1, 3), (2, 1), (2, 3)],
                               "src long, dst long")
    core, rounds = kcore_fixpoint(df, 2)
    assert core.count() == 0
    assert rounds == 3  # drop 3's edges, empty out, prove the fixpoint
