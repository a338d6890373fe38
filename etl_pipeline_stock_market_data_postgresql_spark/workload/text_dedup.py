"""Deduplication workload over the documents table (beyond-reference
operators, BASELINE.json north star): exact, n-gram Jaccard, MinHash+LSH,
SimHash. Spark plans live in operators/dedup.py; the DuckDB oracle SQL
below is generated from the same hashing constants
(functions/hashing.py) so both engines compute identical signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import Query
from ..functions.hashing import (MERSENNE_P, MINHASH_PERMS, hash32_sql,
                                 hash60_sql, minhash_perm_sql)
from ..operators import dedup
from ..sources.tables import load
from ..functions.rounding import round_half_up

JACCARD_THRESHOLD = 0.25
# Stop-shingle cap: shingles in more than this many docs are dropped
# before pairing, bounding the inverted-index join at Σdf² ≤ max_df·Σdf —
# linear in the corpus instead of quadratic in the hottest key. Near-dup
# signal lives in rare shingles, so the cap costs ~nothing in recall
# (at sf0.1 it trims 28k of 2.8M pair-ops; at 100 TB it is the
# difference between a plan that finishes and one that doesn't).
Q24_MAX_DF = 20
LSH_BANDS = 4
LSH_ROWS = 3

# shared oracle CTEs: tokenization and distinct word-3-gram shingles,
# mirroring functions.textstats.tokens / word_ngrams
_SHINGLE_CTE = """
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 for i in range(1, len(tk) - 1)]) AS shingle
  FROM toks WHERE len(tk) >= 3
)
"""


def q23_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by text digest: shuffle carries (hash, id) only."""
    docs = load(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs, "doc_id", "text")


_Q23_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


def q24_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard via inverted shingle index
    (no all-pairs cross product), with the stop-shingle cap wired so the
    index self-join fanout is bounded (Jaccard is then computed over the
    capped shingle sets on both engines)."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3)
    pairs = dedup.jaccard_pairs(sh, "doc_id", JACCARD_THRESHOLD,
                                max_df=Q24_MAX_DF)
    return pairs.select("id_a", "id_b", "n_common", "n_a", "n_b",
                        round_half_up(F.col("jaccard"), 6).alias("jaccard"))


_Q24_SQL = f"""
WITH {_SHINGLE_CTE},
kept AS (SELECT shingle FROM sh GROUP BY shingle
         HAVING count(*) <= {Q24_MAX_DF}),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       floor((n_common / (sa.n_sh + sb.n_sh - n_common)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
"""


def q25_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + banded LSH candidate pairs — the
    sub-quadratic dedup scale path."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3)
    sig = dedup.minhash_signatures(sh, "doc_id")
    return dedup.lsh_candidate_pairs(sig, "doc_id", LSH_BANDS, LSH_ROWS)


def _minhash_sql() -> str:
    k = LSH_BANDS * LSH_ROWS
    mins = ",\n         ".join(
        f"min({minhash_perm_sql('hm', i)}) AS m{i}" for i in range(k))
    band_selects = []
    for b in range(LSH_BANDS):
        cols = " || '_' || ".join(
            f"CAST(m{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {cols} AS band_key FROM sig")
    bands = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH {_SHINGLE_CTE},
hm_t AS (SELECT doc_id, {hash32_sql('shingle')} % {MERSENNE_P} AS hm FROM sh),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hm_t GROUP BY doc_id
),
bands AS (
  {bands}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a
JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
"""


def q26_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (token bit-vote)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text")


_Q26_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM documents
),
h_t AS (SELECT doc_id, {hash32_sql('tok')} AS h FROM toks),
bits AS (SELECT doc_id, h, unnest(range(0, 32)) AS bit FROM h_t),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN CAST(floor(h / pow(2, bit)) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END) AS vote_sum
  FROM bits GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote_sum > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


LSH_VERIFY_THRESHOLD = 0.20


def q51_lsh_verified_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full sub-quadratic near-dup pipeline: LSH candidate pairs →
    exact Jaccard verification on candidates only → threshold. This is
    the 100 TB dedup plan end to end (signatures O(docs), pairing
    O(band collisions), exact math O(candidates))."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3)
    sig = dedup.minhash_signatures(sh, "doc_id")
    cand = dedup.lsh_candidate_pairs(sig, "doc_id", LSH_BANDS, LSH_ROWS)
    verified = dedup.verify_jaccard_on_pairs(cand, sh, "doc_id",
                                             LSH_VERIFY_THRESHOLD)
    return verified.select("id_a", "id_b", "n_common", "n_a", "n_b",
                           round_half_up(F.col("jaccard"), 6).alias("jaccard"))


def _lsh_verified_sql() -> str:
    cand = _minhash_sql().strip()
    # reuse the candidate-pair SQL as a CTE body: strip its WITH and
    # final SELECT into composable parts
    body = cand[len("WITH "):]
    select_idx = body.rindex("SELECT DISTINCT")
    ctes, final_select = body[:select_idx].rstrip().rstrip(","), body[select_idx:]
    # verification counts 60-bit shingle FINGERPRINTS (hash60), not raw
    # strings — identical set semantics up to a ~2^-60 within-doc
    # collision, and both engines derive the same digest so parity is
    # exact regardless (mirrors operators.dedup.verify_jaccard_on_pairs)
    return f"""
WITH {ctes},
cand AS ({final_select}),
sh60 AS (SELECT DISTINCT doc_id, {hash60_sql('shingle')} AS h FROM sh),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh60 a ON a.doc_id = c.id_a
  JOIN sh60 b ON b.doc_id = c.id_b AND b.h = a.h
  GROUP BY c.id_a, c.id_b
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh60 GROUP BY doc_id)
SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       floor((n_common / (sa.n_sh + sb.n_sh - n_common)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {LSH_VERIFY_THRESHOLD}
"""


def q61_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution: LSH-verified near-dup pairs → connected
    components → one summary row per duplicate GROUP (canonical doc =
    min id, member count, member list). This is the step that turns the
    pair list into an actionable drop-set — what a 100 TB dedup job
    actually emits. Component search is distributed min-label
    propagation (operators.dedup.connected_components): O(diameter)
    rounds of join+grouped-min, never a collect."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3)
    sig = dedup.minhash_signatures(sh, "doc_id")
    cand = dedup.lsh_candidate_pairs(sig, "doc_id", LSH_BANDS, LSH_ROWS)
    caches: list = []
    verified = dedup.verify_jaccard_on_pairs(cand, sh, "doc_id",
                                             LSH_VERIFY_THRESHOLD,
                                             cache_out=caches)
    # pairs are tiny relative to docs; persist so the label-propagation
    # rounds don't re-run the whole LSH pipeline every iteration
    edges = verified.select("id_a", "id_b").persist()
    comp = dedup.connected_components(edges, "id_a", "id_b")
    members_csv = F.array_join(
        F.transform(F.sort_array(F.collect_list("node")),
                    lambda x: x.cast("string")), ",")
    out = (comp.groupBy("comp")
           .agg(F.count("*").alias("n_members"), members_csv.alias("members"))
           .select(F.col("comp").alias("keep_id"), "n_members", "members"))
    # Detach the (tiny) cluster summary from the propagation lineage:
    # without this, the returned DataFrame keeps every label-round's
    # checkpoint blocks referenced for as long as the caller holds the
    # result. Checkpointing the ~|clusters| rows here lets the O(|docs|)
    # label blocks become unreachable the moment this function returns.
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    for c in caches:  # the verify stage's shingle-array cache (ADVICE r7)
        c.unpersist()
    return out


def _dedup_clusters_sql() -> str:
    verified = _lsh_verified_sql().strip()
    # embed the verified-pair query as a derived table; WITH RECURSIVE
    # at the top level drives the transitive closure
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({verified}) v
),
edges AS (
  SELECT id_a AS u, id_b AS w FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT DISTINCT u AS node, u AS m FROM edges
  UNION
  SELECT r.node, e.w FROM reach r JOIN edges e ON e.u = r.m
),
comp AS (SELECT node, min(m) AS comp FROM reach GROUP BY node)
SELECT comp AS keep_id, count(*) AS n_members,
       string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
FROM comp GROUP BY comp
"""


def q123_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: near-dup clusters (the q61
    pipeline) keep their LONGEST member, not an arbitrary min-id — the
    policy production dedup jobs actually apply (keep the most complete
    copy of a page/document; cf. the keep-one-representative step of
    Lee et al.'s dedup pipeline). Ranking is exact-integer
    (n_chars DESC, doc_id ASC) so the per-cluster argmax is
    engine-portable — no float score can tie-break differently across
    engines. Cluster membership joins back to the documents table as a
    plain equi-join (members can be a large fraction of a 100 TB
    corpus, so the membership side is NOT broadcast); the argmax is one
    map-side-combinable MAX of a (n_chars, -doc_id) struct per
    cluster."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", n=3)
    sig = dedup.minhash_signatures(sh, "doc_id")
    cand = dedup.lsh_candidate_pairs(sig, "doc_id", LSH_BANDS, LSH_ROWS)
    caches: list = []
    verified = dedup.verify_jaccard_on_pairs(cand, sh, "doc_id",
                                             LSH_VERIFY_THRESHOLD,
                                             cache_out=caches)
    edges = verified.select("id_a", "id_b").persist()
    comp = dedup.connected_components(edges, "id_a", "id_b")
    scored = (docs.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
              .join(comp, F.col("doc_id") == F.col("node"))
              .select("comp", "doc_id", "n_chars"))
    best = F.max(F.struct(F.col("n_chars").alias("nc"),
                          (-F.col("doc_id")).alias("neg_id"))).alias("b")
    out = (scored.groupBy("comp")
           .agg(F.count("*").alias("n_members"), best)
           .select(F.col("comp").alias("cluster_id"),
                   F.col("n_members"),
                   (-F.col("b.neg_id")).alias("canonical_doc"),
                   F.col("b.nc").alias("canonical_n_chars")))
    # same lineage-detach rationale as q61: the summary is ~|clusters|
    # rows; checkpointing frees every label-round block on return
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    for c in caches:
        c.unpersist()
    return out


def _canonical_selection_sql() -> str:
    verified = _lsh_verified_sql().strip()
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({verified}) v
),
edges AS (
  SELECT id_a AS u, id_b AS w FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT DISTINCT u AS node, u AS m FROM edges
  UNION
  SELECT r.node, e.w FROM reach r JOIN edges e ON e.u = r.m
),
comp AS (SELECT node, min(m) AS comp FROM reach GROUP BY node),
scored AS (
  SELECT c.comp, c.node, CAST(d.n_chars AS BIGINT) AS n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.node
),
ranked AS (
  SELECT comp, node, n_chars,
         row_number() OVER (PARTITION BY comp
                            ORDER BY n_chars DESC, node ASC) AS rk,
         count(*) OVER (PARTITION BY comp) AS n_members
  FROM scored
)
SELECT CAST(comp AS BIGINT) AS cluster_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(node AS BIGINT) AS canonical_doc,
       n_chars AS canonical_n_chars
FROM ranked WHERE rk = 1
"""


def corpus0_signature_index(spark: SparkSession,
                            sf_dir: str) -> tuple[DataFrame, int, str]:
    """The q120/q122 persisted dedup state, MATERIALIZED once per
    (SF, documents state): batch-dedup the first 2/3 of documents (by
    id) into a pair-free kept set and store its MinHash signature index
    (operators/incremental_dedup.build_minhash_index) through the
    fingerprint-invalidated derived-table cache. Returns
    ``(index_df, boundary_id, cache_path)``.

    This is what a production pipeline's state actually looks like —
    the index is a TABLE that outlives any one job — and it fixes the
    r9 honest-accounting wart: q120/q122's gated rows used to pay the
    full corpus batch-dedup as an in-query fixture (~2-3× the
    steady-state incremental cost) on every run; now only the first run
    after a documents change pays it, and the gated rows measure the
    incremental stage the operator sells. A changed documents input
    rebuilds (the params token pins shingle n / bands / rows /
    threshold, so a constant change also rebuilds)."""
    import os

    from ..operators import incremental_dedup as inc
    from ..sources.derived_cache import cached_parquet, scratch_base

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    b = _corpus0_bounds(spark, sf_dir)["b"]
    path = os.path.join(scratch_base(sf_dir)[0], "dedup_sig_index")

    caches: list[DataFrame] = []

    def build() -> DataFrame:
        corpus0 = docs.filter(F.col("doc_id") <= b)
        sh0 = dedup.shingle_table(corpus0, "doc_id", "text", n=3)
        sig0 = dedup.minhash_signatures(sh0, "doc_id")
        cand0 = dedup.lsh_candidate_pairs(sig0, "doc_id",
                                          LSH_BANDS, LSH_ROWS)
        ver0 = dedup.verify_jaccard_on_pairs(cand0, sh0, "doc_id",
                                             LSH_VERIFY_THRESHOLD)
        edges0 = ver0.select("id_a", "id_b").persist()
        caches.append(edges0)
        comp0 = dedup.connected_components(edges0, "id_a", "id_b")
        dropped0 = (comp0.filter(F.col("comp") != F.col("node"))
                    .select(F.col("node").alias("doc_id")))
        kept0 = corpus0.join(dropped0, "doc_id", "left_anti")
        return inc.build_minhash_index(kept0, "doc_id", "text",
                                       bands=LSH_BANDS,
                                       rows_per_band=LSH_ROWS,
                                       cache_out=caches)

    index = cached_parquet(spark, path, _corpus0_fp(sf_dir), build)
    for c in caches:  # build-side persists, dead once written
        c.unpersist()
    return index, b, path


def _corpus0_fp(sf_dir: str) -> str:
    from ..sources.derived_cache import table_fingerprint

    return table_fingerprint(
        sf_dir, ("documents",),
        params=f"dedup_index_v1_n3_b{LSH_BANDS}_r{LSH_ROWS}"
               f"_t{LSH_VERIFY_THRESHOLD}")


def _corpus0_bounds(spark: SparkSession, sf_dir: str) -> dict:
    """The corpus0 fixture's input-derived constants (``max_id`` and
    the 2/3 boundary ``b``) as a bounds-only fixture under the
    signature index's fingerprint, so warm runs never scan the
    documents table: at 100 TB the per-run max() IS a fixture-sized
    scan."""
    from ..sources.derived_cache import fixture

    def build(_root: str) -> dict:
        max_id = (load(spark, sf_dir, "documents")
                  .agg(F.max("doc_id")).first()[0])
        return {"max_id": max_id, "b": (2 * max_id) // 3}

    return fixture(sf_dir, "corpus0_bounds", _corpus0_fp(sf_dir), build)[1]


def corpus0_doc_max(spark: SparkSession, sf_dir: str) -> int:
    """max(doc_id) of the documents table as the corpus0 fixture saw
    it (its bounds fixture — no scan once built)."""
    return _corpus0_bounds(spark, sf_dir)["max_id"]


def q120_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup against a persisted MinHash signature
    index (operators/incremental_dedup.py) — the reference's
    conflict-ignoring idempotent-append (`ON CONFLICT DO NOTHING`,
    main_parallel.py:285) lifted to near-duplicate space. The persisted
    state comes from :func:`corpus0_signature_index` (the first 2/3 of
    documents, batch-deduped once into the materialized index table);
    the last 1/3 arrives as the delta and is deduped incrementally —
    corpus text is never re-shingled, and the operator's three index
    reads (id-bound check, band projection, fingerprint arrays) are
    columnar scans of the stored table. Output: one verdict per delta
    doc (kept iff it is its near-dup component's minimum id over
    corpus ∪ delta). The oracle recomputes the whole thing as a batch
    over kept-corpus ∪ delta; equality holds because a deduped corpus
    is internally pair-free, so the union's edges are exactly the
    delta-delta ∪ delta-corpus edges the incremental path derives."""
    from ..operators import incremental_dedup as inc

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    index, b, _path = corpus0_signature_index(spark, sf_dir)
    delta = docs.filter(F.col("doc_id") > b)

    verdicts, _new_rows = inc.incremental_neardup(
        index, delta, "doc_id", "text", LSH_VERIFY_THRESHOLD,
        bands=LSH_BANDS, rows_per_band=LSH_ROWS)
    return verdicts.select("doc_id", "kept", "canonical_id")


def _neardup_edges_sql(src: str, p: str) -> str:
    """CTE chain (to splice into a WITH) over doc source CTE ``src``
    (columns doc_id, text) defining ``{p}edges`` — the LSH-verified
    near-dup pairs at LSH_VERIFY_THRESHOLD. Mirrors the Spark pipeline
    shingle → minhash → bands → candidates → fingerprint verify."""
    k = LSH_BANDS * LSH_ROWS
    mins = ",\n         ".join(
        f"min({minhash_perm_sql('hm', i)}) AS m{i}" for i in range(k))
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {bb} AS band_id, "
        + " || '_' || ".join(f"CAST(m{bb * LSH_ROWS + r} AS VARCHAR)"
                             for r in range(LSH_ROWS))
        + f" AS band_key FROM {p}sig"
        for bb in range(LSH_BANDS))
    return f"""
{p}toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM {src}
),
{p}sh AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 for i in range(1, len(tk) - 1)]) AS shingle
  FROM {p}toks WHERE len(tk) >= 3
),
{p}hm AS (SELECT doc_id, {hash32_sql('shingle')} % {MERSENNE_P} AS hm FROM {p}sh),
{p}sig AS MATERIALIZED (SELECT doc_id, {mins} FROM {p}hm GROUP BY doc_id),
{p}bands AS (
  {band_selects}
),
{p}cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM {p}bands a
  JOIN {p}bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
),
{p}sh60 AS MATERIALIZED (SELECT DISTINCT doc_id, {hash60_sql('shingle')} AS h FROM {p}sh),
{p}inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM {p}cand c
  JOIN {p}sh60 a ON a.doc_id = c.id_a
  JOIN {p}sh60 b ON b.doc_id = c.id_b AND b.h = a.h
  GROUP BY c.id_a, c.id_b
),
{p}sizes AS (SELECT doc_id, count(*) AS n_sh FROM {p}sh60 GROUP BY doc_id),
{p}edges AS (
  SELECT id_a, id_b
  FROM {p}inter
  JOIN {p}sizes sa ON sa.doc_id = id_a
  JOIN {p}sizes sb ON sb.doc_id = id_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {LSH_VERIFY_THRESHOLD}
)"""


def _closure_sql(p: str) -> str:
    """Transitive closure of ``{p}edges`` into ``{p}comp`` (node -> min
    reachable id) — the q61 oracle's recursive shape, prefixed."""
    return f"""
{p}sym AS (
  SELECT id_a AS u, id_b AS w FROM {p}edges
  UNION
  SELECT id_b, id_a FROM {p}edges
),
{p}reach AS (
  SELECT DISTINCT u AS node, u AS m FROM {p}sym
  UNION
  SELECT r.node, e.w FROM {p}reach r JOIN {p}sym e ON e.u = r.m
),
{p}comp AS (SELECT node, min(m) AS comp FROM {p}reach GROUP BY node)"""


def _q120_sql() -> str:
    return f"""
WITH RECURSIVE
bnd AS (SELECT CAST(floor(2 * max(doc_id) / 3) AS BIGINT) AS b
        FROM documents),
corpus0 AS MATERIALIZED (SELECT doc_id, text FROM documents
            WHERE doc_id <= (SELECT b FROM bnd)),
{_neardup_edges_sql('corpus0', 'c_')},
{_closure_sql('c_')},
kept0 AS MATERIALIZED (
  SELECT doc_id FROM corpus0
  WHERE doc_id NOT IN (SELECT node FROM c_comp WHERE comp <> node)
),
uni AS MATERIALIZED (
  SELECT d.doc_id, d.text FROM documents d JOIN kept0 USING (doc_id)
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id > (SELECT b FROM bnd)
),
{_neardup_edges_sql('uni', 'u_')},
{_closure_sql('u_')},
delta AS (SELECT doc_id FROM documents WHERE doc_id > (SELECT b FROM bnd))
SELECT d.doc_id,
       coalesce(c.comp, d.doc_id) = d.doc_id AS kept,
       coalesce(c.comp, d.doc_id) AS canonical_id
FROM delta d LEFT JOIN u_comp c ON c.node = d.doc_id
"""


SPAN_N = 6  # span width (word n-gram) for duplicate-span profiling


def q83_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate profiling: for every doc with ≥ SPAN_N
    tokens, how many of its word-SPAN_N-gram spans also occur in at
    least one OTHER document (the exact-substring dedup signal of
    Lee et al. 2021, arXiv:2107.06499 — repeated boilerplate that
    doc-level dedup like q23–q26 can't see because the containing
    documents differ).

    Scale shape: spans are 32-bit hashes the moment they leave the
    tokenizer — every shuffle carries (doc_id, long), never span text.
    The cross-doc duplicate set is a hash-grouped aggregate over
    distinct (doc, hash) pairs (map-side combinable), and per-doc
    flagging is a hash-partitioned LEFT SEMI — nothing is quadratic
    and nothing is broadcast-sized by the corpus."""
    from ..functions import textstats
    from ..functions.hashing import hash32

    docs = load(spark, sf_dir, "documents")
    # tokenize below the exchange (see q24 note: a raw tokens(text)
    # argument gets its tree duplicated into every element_at)
    toked = (docs.select("doc_id", textstats.tokens(F.col("text")).alias("tk"))
             .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    spans = toked.select(
        "doc_id",
        F.explode(textstats.word_ngrams(F.col("tk"), SPAN_N)).alias("g"))
    # three consumers (dup set, per-doc totals, flagging join) — persist
    # backs the returned lazy result; callers own cache lifetime.
    hashed = spans.select("doc_id", hash32(F.col("g")).alias("gh")).persist()
    dup = (hashed.distinct()
           .groupBy("gh").agg(F.count("*").alias("_ndocs"))
           .filter(F.col("_ndocs") >= 2).select("gh"))
    per_doc = hashed.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    per_doc_dup = (hashed.join(dup, "gh", "left_semi")
                   .groupBy("doc_id").agg(F.count("*").alias("n_dup_spans")))
    ratio = F.col("n_dup_spans") / F.col("n_spans")
    return (per_doc.join(per_doc_dup, "doc_id", "left")
            .withColumn("n_dup_spans",
                        F.coalesce("n_dup_spans", F.lit(0).cast("long")))
            .withColumn("dup_span_ratio", round_half_up(ratio, 6))
            .select("doc_id", "n_spans", "n_dup_spans", "dup_span_ratio"))


def _q83_gram_expr() -> str:
    parts = " || ' ' || ".join(f"tk[i+{j}]" for j in range(SPAN_N))
    return f"[{parts} for i in range(1, len(tk) - {SPAN_N - 2})]"


def _q83_sql() -> str:
    from ..functions.hashing import hash32_sql
    from ..functions.rounding import round_half_up_sql

    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM documents
),
spans AS (
  SELECT doc_id, unnest({_q83_gram_expr()}) AS g
  FROM toks WHERE len(tk) >= {SPAN_N}
),
hashed AS (SELECT doc_id, {hash32_sql('g')} AS gh FROM spans),
dup AS (
  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM hashed)
  GROUP BY gh HAVING count(*) >= 2
),
per_doc AS (
  SELECT h.doc_id, count(*) AS n_spans, count(d.gh) AS n_dup_spans
  FROM hashed h LEFT JOIN dup d USING (gh)
  GROUP BY h.doc_id
)
SELECT doc_id, n_spans, n_dup_spans,
       {round_half_up_sql('n_dup_spans / n_spans', 6)} AS dup_span_ratio
FROM per_doc
"""


# --- q117: duplicate-span REMOVAL (the cleaned corpus q83 profiles) -------


def remove_duplicate_spans(docs: DataFrame, n_part: int) -> DataFrame:
    """Excise cross-document duplicated spans and emit the cleaned
    corpus — the removal stage of Lee et al. 2021 (arXiv:2107.06499)
    that q83 only profiles. A span is a word-SPAN_N-gram occurring in
    ≥ 2 distinct documents; every token covered by ANY duplicated span
    is dropped (overlapping spans merge by construction: coverage is
    computed per token position, which is exactly the union of the
    merged intervals), and the kept tokens are rejoined in order.

    Pure JVM-side set arithmetic — no Python UDFs, nothing quadratic:
    token positions and span positions are (doc_id, int) pairs; the
    duplicated-span set is a hash-grouped aggregate over distinct
    (doc, hash) pairs; coverage is one explode of SPAN_N positions per
    duplicated span occurrence (shuffle ∝ corpus tokens worst-case);
    removal is a hash-partitioned LEFT ANTI; reconstruction is one
    groupBy collecting (pos, token) structs sorted JVM-side. Returns
    (doc_id, n_tokens, n_removed, cleaned_text) for EVERY document
    (token-less docs clean to '').

    The per-position ``hashed`` gram table is persisted (two consumers:
    the dup set and the coverage explode) and backs the returned lazy
    result — callers own its lifetime (jaccard_pairs' contract;
    bench.py/tests clearCache between queries)."""
    from ..functions import textstats
    from ..functions.hashing import hash32

    toked = (docs.select("doc_id", textstats.tokens(F.col("text")).alias("tk"))
             .repartition(n_part, "doc_id"))
    tokpos = toked.select(
        "doc_id", F.posexplode("tk").alias("p0", "tok")).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    grams = toked.select(
        "doc_id",
        F.posexplode(textstats.word_ngrams(F.col("tk"), SPAN_N))
        .alias("g0", "g"))
    hashed = (grams.select("doc_id", (F.col("g0") + 1).alias("pos"),
                           hash32(F.col("g")).alias("gh"))
              .persist())
    dup = (hashed.select("doc_id", "gh").distinct()
           .groupBy("gh").agg(F.count("*").alias("_ndocs"))
           .filter(F.col("_ndocs") >= 2).select("gh"))
    rm = (hashed.join(dup, "gh", "left_semi")
          .select("doc_id",
                  F.explode(F.sequence(F.col("pos"),
                                       F.col("pos") + (SPAN_N - 1)))
                  .alias("pos"))
          .distinct())
    kept = tokpos.join(rm, ["doc_id", "pos"], "left_anti")
    cleaned = (kept.groupBy("doc_id")
               .agg(F.count("*").alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "tok"))),
                            lambda x: x["tok"]), " ").alias("cleaned_text")))
    return (toked.select("doc_id", F.size("tk").cast("long").alias("n_tokens"))
            .join(cleaned, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    (F.col("n_tokens")
                     - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
                    F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text")))


def q117_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, removal included (see
    ``remove_duplicate_spans``): the oracle independently reconstructs
    every cleaned text, so the hash match certifies the emitted corpus
    itself, not just the span counts. Idempotency (re-running on the
    cleaned output removes nothing on this corpus) is pinned by
    tests/test_dedup_properties.py."""
    docs = load(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, spark.sparkContext.defaultParallelism)


def _q117_sql() -> str:
    from ..functions.hashing import hash32_sql

    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM documents
),
tokpos AS (
  SELECT doc_id, i AS pos, tk[i] AS tok
  FROM toks, unnest(range(1, len(tk) + 1)) AS t(i)
),
spans AS (
  SELECT doc_id, i AS pos,
         {" || ' ' || ".join(f"tk[i+{j}]" for j in range(SPAN_N))} AS g
  FROM toks, unnest(range(1, len(tk) - {SPAN_N - 2})) AS t(i)
  WHERE len(tk) >= {SPAN_N}
),
hashed AS (SELECT doc_id, pos, {hash32_sql('g')} AS gh FROM spans),
dup AS (
  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM hashed)
  GROUP BY gh HAVING count(*) >= 2
),
rm AS (
  SELECT DISTINCT h.doc_id, t.p AS pos
  FROM hashed h JOIN dup USING (gh),
       unnest(range(h.pos, h.pos + {SPAN_N})) AS t(p)
),
kept AS (
  SELECT tokpos.* FROM tokpos ANTI JOIN rm USING (doc_id, pos)
),
cleaned AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS n_tokens,
       CAST(len(d.tk) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(cleaned_text, '') AS cleaned_text
FROM toks d LEFT JOIN cleaned USING (doc_id)
"""


QUERIES: dict[str, Query] = {
    "q23_dedup_exact": Query(q23_dedup_exact, _Q23_SQL),
    "q24_ngram_jaccard": Query(q24_ngram_jaccard, _Q24_SQL),
    "q25_minhash_lsh": Query(q25_minhash_lsh, _minhash_sql()),
    "q26_simhash": Query(q26_simhash, _Q26_SQL),
    "q51_lsh_verified_neardup": Query(q51_lsh_verified_neardup, _lsh_verified_sql()),
    "q61_dedup_clusters": Query(q61_dedup_clusters, _dedup_clusters_sql()),
    "q123_canonical_selection": Query(q123_canonical_selection,
                                      _canonical_selection_sql()),
    "q120_incremental_dedup": Query(q120_incremental_dedup, _q120_sql()),
    "q83_duplicate_spans": Query(q83_duplicate_spans, _q83_sql()),
    "q117_dedup_span_removal": Query(q117_dedup_span_removal, _q117_sql()),
}
