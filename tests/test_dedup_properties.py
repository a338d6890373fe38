"""Property tests for the dedup family (VERDICT r1 item 7), modeled on
the as-of brute-force comparison: random corpora with planted
duplicates/near-duplicates, checked against pure-Python references.

Key invariants:
- exact_dedup_groups partitions the corpus (Σ n_dups == N) and planted
  exact copies collapse to the min id;
- identical texts always share MinHash signatures, so LSH candidate
  generation NEVER misses an exact duplicate (J=1 ⇒ every band agrees);
- the LSH→verify pipeline (q51 shape) returns exactly the brute-force
  Jaccard pairs restricted to LSH candidates — the verification stage
  adds no false positives and drops nothing;
- SimHash is a bag-of-tokens function: token order never changes it.
"""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.operators import dedup

_VOCAB = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
          "hotel", "india", "juliet", "kilo", "lima", "mike", "november"]


def _corpus(seed: int, n_base: int = 30):
    """Random docs + planted exact copies + planted near-dups (1-word
    mutation of a 12+-word doc keeps Jaccard over 3-grams high)."""
    rng = random.Random(seed)
    docs = []
    for i in range(n_base):
        words = [rng.choice(_VOCAB) for _ in range(rng.randrange(8, 20))]
        docs.append((i, " ".join(words)))
    next_id = n_base
    exact_pairs = []
    for _ in range(4):  # exact copies
        src_id, text = docs[rng.randrange(n_base)]
        docs.append((next_id, text))
        exact_pairs.append((src_id, next_id))
        next_id += 1
    for _ in range(4):  # near-dups: mutate one interior word
        src_id, text = docs[rng.randrange(n_base)]
        words = text.split()
        if len(words) > 6:
            words[len(words) // 2] = "zulu"
        docs.append((next_id, " ".join(words)))
        next_id += 1
    return docs, exact_pairs


def _shingle_set(text: str, n: int = 3) -> set[str]:
    words = text.split()
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def _brute_jaccard_pairs(docs, threshold: float) -> set[tuple[int, int]]:
    out = set()
    sets = {i: _shingle_set(t) for i, t in docs}
    for (ia, sa), (ib, sb) in itertools.combinations(sets.items(), 2):
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            out.add((min(ia, ib), max(ia, ib)))
    return out


def test_exact_dedup_partitions_and_collapses(spark):
    for seed in (1, 2):
        docs, exact_pairs = _corpus(seed)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        groups = dedup.exact_dedup_groups(df, "doc_id", "text").collect()
        assert sum(r["n_dups"] for r in groups) == len(docs)
        text_of = dict(docs)
        for src, copy in exact_pairs:
            grp = [r for r in groups
                   if r["n_dups"] >= 2 and r["keep_id"] <= src]
            # the copy's group keeps the minimum id, which is <= src < copy
            assert any(text_of[r["keep_id"]] == text_of[copy] for r in grp)


def test_lsh_candidates_never_miss_exact_duplicates(spark):
    """J=1 pairs have identical signatures, hence agree on every band —
    candidate generation is deterministic-complete for them."""
    for seed in (3, 4, 5):
        docs, exact_pairs = _corpus(seed)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        sh = dedup.shingle_table(df, "doc_id", "text", n=3)
        sigs = dedup.minhash_signatures(sh, "doc_id")
        cands = {(r["id_a"], r["id_b"])
                 for r in dedup.lsh_candidate_pairs(sigs, "doc_id").collect()}
        for src, copy in exact_pairs:
            pair = (min(src, copy), max(src, copy))
            assert pair in cands, f"seed={seed}: exact dup {pair} missed"


def test_lsh_verified_equals_bruteforce_on_candidates(spark):
    """The q51 pipeline == brute-force Jaccard ∩ LSH candidates: verify
    introduces no false positives and loses no candidate that clears the
    threshold. Exact duplicates are always recalled end-to-end."""
    threshold = 0.25
    for seed in (6, 7):
        docs, exact_pairs = _corpus(seed)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        sh = dedup.shingle_table(df, "doc_id", "text", n=3).persist()
        sigs = dedup.minhash_signatures(sh, "doc_id")
        cands_df = dedup.lsh_candidate_pairs(sigs, "doc_id")
        cands = {(r["id_a"], r["id_b"]) for r in cands_df.collect()}
        verified = {(r["id_a"], r["id_b"])
                    for r in dedup.verify_jaccard_on_pairs(
                        cands_df, sh, "doc_id", threshold).collect()}
        brute = _brute_jaccard_pairs(docs, threshold)
        assert verified == brute & cands
        for src, copy in exact_pairs:
            assert (min(src, copy), max(src, copy)) in verified
        sh.unpersist()


def test_jaccard_pairs_matches_bruteforce_without_cap(spark):
    """Inverted-index Jaccard (max_df=None) is exhaustive: any pair
    sharing ≥1 shingle is scored, so output == brute force exactly."""
    threshold = 0.25
    docs, _ = _corpus(8)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = dedup.shingle_table(df, "doc_id", "text", n=3)
    got = {(r["id_a"], r["id_b"])
           for r in dedup.jaccard_pairs(sh, "doc_id", threshold).collect()}
    assert got == _brute_jaccard_pairs(docs, threshold)


def test_jaccard_max_df_only_removes_hot_shingles(spark):
    """With the cap, results equal brute force computed over the capped
    shingle sets — the guard changes which shingles exist, never the
    pairing semantics."""
    threshold, max_df = 0.25, 5
    docs, _ = _corpus(9)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = dedup.shingle_table(df, "doc_id", "text", n=3)
    got = {(r["id_a"], r["id_b"])
           for r in dedup.jaccard_pairs(sh, "doc_id", threshold,
                                        max_df=max_df).collect()}
    # brute force over capped sets
    sets = {i: _shingle_set(t) for i, t in docs}
    df_count: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    capped = {i: {g for g in s if df_count[g] <= max_df}
              for i, s in sets.items()}
    want = set()
    for (ia, sa), (ib, sb) in itertools.combinations(capped.items(), 2):
        if sa and sb and len(sa & sb) / len(sa | sb) >= threshold:
            want.add((min(ia, ib), max(ia, ib)))
    assert got == want


def test_simhash_is_token_order_invariant(spark):
    docs, _ = _corpus(10, n_base=12)
    rng = random.Random(11)
    shuffled = []
    for i, text in docs:
        words = text.split()
        rng.shuffle(words)
        shuffled.append((i, " ".join(words)))
    a = spark.createDataFrame(docs, "doc_id long, text string")
    b = spark.createDataFrame(shuffled, "doc_id long, text string")
    ha = {r["doc_id"]: r["simhash"]
          for r in dedup.simhash(a, "doc_id", "text").collect()}
    hb = {r["doc_id"]: r["simhash"]
          for r in dedup.simhash(b, "doc_id", "text").collect()}
    assert ha == hb


def _uf_components(n_nodes_edges):
    """Pure-Python union-find reference: node -> min id in component."""
    edges = n_nodes_edges
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {node: find(node) for node in parent}


def test_connected_components_matches_union_find(spark):
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        nodes = list(range(60))
        edges = sorted({(min(a, b), max(a, b))
                        for a, b in ((rng.choice(nodes), rng.choice(nodes))
                                     for _ in range(45)) if a != b})
        expected = _uf_components(edges)
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        # both finalizers must match the reference: the driver-local
        # union-find (default at this size) and the distributed
        # pointer-doubling loop (forced via threshold=0)
        got_local = {r["node"]: r["comp"]
                     for r in dedup.connected_components(
                         df, "id_a", "id_b").collect()}
        got_dist = {r["node"]: r["comp"]
                    for r in dedup.connected_components(
                        df, "id_a", "id_b",
                        driver_edges_threshold=0).collect()}
        assert got_local == expected, f"seed {seed}"
        assert got_dist == expected, f"seed {seed}"


def test_connected_components_long_chain(spark):
    # a path graph is the worst diameter case for label propagation:
    # every node must still resolve to the chain's minimum
    chain = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = dedup.connected_components(df, "id_a", "id_b",
                                     driver_edges_threshold=0).collect()
    assert {r["node"] for r in got} == set(range(13))
    assert all(r["comp"] == 0 for r in got)


def test_connected_components_diameter_beyond_round_cap(spark):
    # the regression the 100x probe caught: a component whose diameter
    # far exceeds max_iter must still converge, because the
    # path-halving shortcut makes rounds O(log diameter), not
    # O(diameter). A 300-edge path needs ~300 plain-propagation rounds;
    # with the shortcut it must finish inside the default 25. Ids
    # descend so label propagation has to push the minimum the long
    # way round.
    chain = [(300 - i, 300 - i - 1) for i in range(300)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = dedup.connected_components(df, "id_a", "id_b",
                                     driver_edges_threshold=0).collect()
    assert {r["node"] for r in got} == set(range(301))
    assert all(r["comp"] == 0 for r in got)


def test_connected_components_raises_without_fixpoint_in_max_iter(spark):
    # the same chain needs several doubling rounds; a cap of two cannot
    # reach the fixpoint, and the distributed loop must say so rather
    # than return half-propagated labels
    chain = [(300 - i, 300 - i - 1) for i in range(300)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="no fixpoint in 2 rounds"):
        dedup.connected_components(df, "id_a", "id_b", max_iter=2,
                                   driver_edges_threshold=0)


# --- q117: duplicate-span removal ----------------------------------------


def test_span_removal_idempotent_and_consistent_with_q83(spark, sf_dir, tmp_path):
    """(a) removal agrees with q83's profile (same dup-span coverage
    semantics); (b) re-running removal on the cleaned corpus removes
    nothing further (Lee et al.'s excision is a fixpoint on this
    corpus — junction-created n-grams would have to repeat across docs
    to break this, which the scrambled testdata never produces)."""
    import os
    from conftest import write_single_parquet
    from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import load
    from etl_pipeline_stock_market_data_postgresql_spark.workload.text_dedup import (
        SPAN_N, q83_duplicate_spans, q117_dedup_span_removal)

    out = q117_dedup_span_removal(spark, sf_dir)
    rows = {r["doc_id"]: r for r in out.collect()}
    spark.catalog.clearCache()
    prof = {r["doc_id"]: r for r in
            q83_duplicate_spans(spark, sf_dir).collect()}
    spark.catalog.clearCache()
    assert any(r["n_removed"] > 0 for r in rows.values()), \
        "corpus has no duplicated spans; test is vacuous"
    for doc_id, r in rows.items():
        p = prof.get(doc_id)
        if p is None or p["n_dup_spans"] == 0:
            # no duplicated span -> nothing removed, text intact modulo
            # tokenization (q83 omits docs with < SPAN_N tokens)
            assert r["n_removed"] == 0, (doc_id, r)
        else:
            # every duplicated span covers >= SPAN_N tokens; coverage
            # of n>=1 spans is >= SPAN_N and <= n_tokens
            assert SPAN_N <= r["n_removed"] <= r["n_tokens"], (doc_id, r)

    # idempotency: cleaned corpus -> removal is a no-op
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    cleaned = spark.createDataFrame(
        [(d, r["cleaned_text"]) for d, r in rows.items()],
        "doc_id bigint, text string")
    round2_in = (docs.join(cleaned, "doc_id")
                 .select("doc_id", "text", "lang", "source",
                         F.length("text").alias("n_chars")))
    d2 = os.path.join(str(tmp_path), "round2")
    os.makedirs(d2, exist_ok=True)
    write_single_parquet(round2_in, os.path.join(d2, "documents.parquet"))
    again = q117_dedup_span_removal(spark, d2).collect()
    spark.catalog.clearCache()
    assert all(r["n_removed"] == 0 for r in again), \
        [r for r in again if r["n_removed"] > 0][:5]


def test_canonical_selection_consistent_with_q61(spark, sf_dir):
    """q123 and q61 resolve the SAME clusters (same keep_id/cluster_id
    set, same sizes); q123's canonical is the member with the greatest
    n_chars (lowest doc_id on ties) within q61's member list — i.e.
    canonical selection only changes WHICH representative survives,
    never the partition of docs into clusters."""
    from etl_pipeline_stock_market_data_postgresql_spark.sources.tables import load
    from etl_pipeline_stock_market_data_postgresql_spark.workload.text_dedup import (
        q61_dedup_clusters, q123_canonical_selection)

    clusters = {r["keep_id"]: r for r in
                q61_dedup_clusters(spark, sf_dir).collect()}
    spark.catalog.clearCache()
    canon = {r["cluster_id"]: r for r in
             q123_canonical_selection(spark, sf_dir).collect()}
    spark.catalog.clearCache()
    assert clusters.keys() == canon.keys()
    assert any(r["n_members"] > 1 for r in canon.values()), \
        "corpus has no multi-member clusters; test is vacuous"
    n_chars = {r["doc_id"]: r["n_chars"] for r in
               load(spark, sf_dir, "documents")
               .select("doc_id", "n_chars").collect()}
    for cid, c in canon.items():
        q61_row = clusters[cid]
        members = [int(x) for x in q61_row["members"].split(",")]
        assert c["n_members"] == q61_row["n_members"] == len(members)
        best = max(members, key=lambda d: (n_chars[d], -d))
        assert c["canonical_doc"] == best, (cid, c, members)
        assert c["canonical_n_chars"] == n_chars[best]
