"""Corpus-curation operators round 3 (beyond-reference: the
training-data half of the engine, alongside dedup/similarity/textstats):
TF-IDF vocabulary ranking, benchmark-contamination detection,
temperature-scaled domain mixture sampling, and SCD2 dimension-history
construction.

Every query is pure JVM-side DataFrame code with an exact DuckDB oracle.
Cross-engine determinism notes specific to this module:

- q67 uses natural log (libm, not IEEE-correctly-rounded) — scores are
  therefore rounded half-up to 6 dp BEFORE ranking, and rank ties break
  on the term itself, so a last-ulp ln() divergence cannot flip the
  top-k membership or order.
- q69 avoids transcendentals entirely: temperature alpha=0.5 is sqrt
  (IEEE-exact), per-language weights are quantized to integers before
  the cross-language sum, and the final sampling probability is built
  from exactly-representable integers with one multiply and one divide
  (each correctly rounded, hence bit-identical in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import Query
from ..functions import textstats
from ..operators.asof import asof_join_union
from ..functions.hashing import hash32, hash32_sql, hash60, hash60_sql
from ..functions.rounding import round_half_up, round_half_up_sql
from ..session import local_frame
from ..sources.tables import load

_TOKS_CTE = """
toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM documents
)
"""


def _tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, tk) with tokenization materialized below an
    exchange — single-row-group parquet otherwise tokenizes on one core,
    and downstream higher-order functions must reference a named column
    (expression-tree duplication, see functions/textstats.word_ngrams)."""
    docs = load(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return docs.select("doc_id", "lang",
                       textstats.tokens(F.col("text")).alias("tk"))


# --- q67: TF-IDF top terms per language ----------------------------------

TFIDF_TOP_K = 15


def q67_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary ranking: top-15 terms per language by aggregate
    TF-IDF (smoothed idf = ln((N+1)/(df+1)) + 1).

    Scale shape: explode → two hash aggregations, both map-side
    combinable — shuffle 1 carries (lang, doc_id, token) partial counts,
    shuffle 2 carries (lang, token). Per-language doc totals are a tiny
    aggregate broadcast back; the final top-k is a bounded window over
    (lang) on the vocabulary table (|vocab| rows, corpus-independent).
    Ranking is by ROUNDED score with a term tiebreak (module docstring)."""
    tf = (_tokens_df(spark, sf_dir)
          .select("lang", "doc_id", F.explode("tk").alias("token"))
          .groupBy("lang", "doc_id", "token")
          .agg(F.count("*").alias("tf")))
    stats = (tf.groupBy("lang", "token")
             .agg(F.sum("tf").alias("sum_tf"),
                  F.count("*").alias("df")))
    n_docs = (load(spark, sf_dir, "documents")
              .groupBy("lang").agg(F.count("*").alias("n_docs")))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    scored = (stats.join(F.broadcast(n_docs), "lang")
              .withColumn("tfidf", round_half_up(F.col("sum_tf") * idf, 6)))
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(),
                                           F.col("token").asc())
    return (scored
            .withColumn("term_rank", F.row_number().over(w).cast("int"))
            .filter(F.col("term_rank") <= TFIDF_TOP_K)
            .select("lang", "term_rank", "token", "sum_tf", "df", "tfidf"))


_Q67_SQL = f"""
WITH {_TOKS_CTE},
tf AS (
  SELECT lang, doc_id, t AS token, count(*) AS tf
  FROM (SELECT lang, doc_id, unnest(tk) AS t FROM toks)
  GROUP BY 1, 2, 3
),
stats AS (
  SELECT lang, token, CAST(sum(tf) AS BIGINT) AS sum_tf, count(*) AS df
  FROM tf GROUP BY 1, 2
),
nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
scored AS (
  SELECT s.lang, token, sum_tf, df,
         {round_half_up_sql(
             'sum_tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)', 6)} AS tfidf
  FROM stats s JOIN nd USING (lang)
)
SELECT lang, term_rank, token, sum_tf, df, tfidf
FROM (SELECT *, CAST(row_number() OVER (
        PARTITION BY lang ORDER BY tfidf DESC, token) AS INT) AS term_rank
      FROM scored)
WHERE term_rank <= {TFIDF_TOP_K}
"""


# --- q68: benchmark-contamination detection ------------------------------

EVAL_MOD = 97       # doc_id % 97 == 0 => held-out eval doc
CONTAM_NGRAM = 5    # word n-gram size for the overlap check


def q68_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: which training docs share at least one
    word-5-gram with the held-out eval slice (doc_id % 97 == 0), per
    language — the decontamination gate every training corpus runs
    before a benchmark is trusted.

    Scale shape: grams are 32-bit hashes (shuffle carries longs, never
    gram text); membership is a distinct (doc, gram-hash) semi-join on
    the hash — shuffle ∝ distinct grams, no broadcast of the corpus
    side. Docs with < 5 tokens have no grams and count as clean;
    per-language train totals come straight off the scan."""
    grams = (_tokens_df(spark, sf_dir)
             .select("doc_id", "lang",
                     F.explode(textstats.word_ngrams(F.col("tk"),
                                                     CONTAM_NGRAM)).alias("g"))
             .select("doc_id", "lang", hash32(F.col("g")).alias("gh"))
             .distinct())
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_grams = grams.filter(is_eval).select("gh").distinct()
    contam = (grams.filter(~is_eval)
              .join(eval_grams, "gh", "left_semi")
              .select("doc_id", "lang").distinct()
              .groupBy("lang").agg(F.count("*").alias("n_contaminated")))
    train = (load(spark, sf_dir, "documents")
             .filter(F.col("doc_id") % EVAL_MOD != 0)
             .groupBy("lang").agg(F.count("*").alias("n_train")))
    rate = F.col("n_contaminated") / F.col("n_train")
    return (train.join(contam, "lang", "left")
            .withColumn("n_contaminated",
                        F.coalesce("n_contaminated", F.lit(0).cast("long")))
            .withColumn("contamination_rate", round_half_up(rate, 6))
            .select("lang", "n_train", "n_contaminated", "contamination_rate"))


def _q68_gram_expr() -> str:
    parts = " || ' ' || ".join(f"tk[i+{j}]" for j in range(CONTAM_NGRAM))
    return (f"[{parts} for i in range(1, len(tk) - {CONTAM_NGRAM - 2})]")


_Q68_SQL = f"""
WITH {_TOKS_CTE},
grams AS (
  SELECT DISTINCT doc_id, lang, {hash32_sql('g')} AS gh
  FROM (SELECT doc_id, lang, unnest({_q68_gram_expr()}) AS g
        FROM toks WHERE len(tk) >= {CONTAM_NGRAM})
),
eval_g AS (SELECT DISTINCT gh FROM grams WHERE doc_id % {EVAL_MOD} = 0),
contam AS (
  SELECT lang, count(*) AS n_contaminated
  FROM (SELECT DISTINCT g.doc_id, g.lang
        FROM grams g JOIN eval_g USING (gh)
        WHERE g.doc_id % {EVAL_MOD} <> 0)
  GROUP BY lang
),
train AS (
  SELECT lang, count(*) AS n_train FROM documents
  WHERE doc_id % {EVAL_MOD} <> 0 GROUP BY lang
)
SELECT train.lang, n_train,
       CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       {round_half_up_sql(
           'CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_train', 6)}
         AS contamination_rate
FROM train LEFT JOIN contam USING (lang)
"""


# --- q69: temperature-scaled domain mixture sampling ---------------------

MIX_TARGET_FRAC = 0.25   # sample ~25% of the corpus overall
MIX_SEED = "mix:"        # hash domain separator
_W_SCALE = 1_000_000     # sqrt-weight quantization
_P_SCALE = 1_000_000     # sampling-probability quantization


def q69_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (alpha = 0.5): per-language
    sampling probabilities p_lang ∝ sqrt(n_lang)/n_lang that hit a 25%
    overall budget, applied content-addressed (same hash-split family as
    q58 — reshuffle-stable, no rand()) — the mixture-reweighting stage
    that upsamples rare domains before training.

    Scale shape: pass 1 is a tiny per-language count; probabilities are
    computed on that aggregate and broadcast back; pass 2 is a pure map
    filter on the scan. Nothing large shuffles. Exactness: sqrt is
    IEEE-correctly-rounded, weights are integer-quantized before the
    cross-language sum, so the thresholds are bit-identical cross-engine
    (module docstring)."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    iw = F.floor(F.sqrt(F.col("n_docs").cast("double")) * _W_SCALE)
    weighted = counts.withColumn("iw", iw)
    totals = weighted.agg(F.sum("n_docs").alias("total"),
                          F.sum("iw").alias("siw"))
    budget = F.floor(F.col("total").cast("double") * F.lit(MIX_TARGET_FRAC))
    p = F.least(F.lit(1.0),
                (budget * F.col("iw").cast("double"))
                / (F.col("siw").cast("double") * F.col("n_docs").cast("double")))
    thr = (weighted.crossJoin(F.broadcast(totals))
           .select("lang", "n_docs",
                   F.floor(p * _P_SCALE).alias("ithr")))
    keep = (hash32(F.concat(F.lit(MIX_SEED), F.col("doc_id").cast("string")))
            % _P_SCALE) < F.col("ithr")
    sampled = (docs.join(F.broadcast(thr.select("lang", "ithr")), "lang")
               .filter(keep)
               .groupBy("lang")
               .agg(F.count("*").alias("n_sampled"),
                    F.sum("n_chars").alias("sum_chars")))
    return (thr.join(sampled, "lang", "left")
            .select("lang", "n_docs",
                    (F.col("ithr").cast("double") / _P_SCALE).alias("sample_p"),
                    F.coalesce("n_sampled", F.lit(0).cast("long")).alias("n_sampled"),
                    F.coalesce("sum_chars", F.lit(0).cast("long")).alias("sum_chars")))


_Q69_SQL = f"""
WITH cnt AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
w AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * {_W_SCALE}) AS BIGINT) AS iw
  FROM cnt
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS total, CAST(sum(iw) AS BIGINT) AS siw
  FROM w
),
thr AS (
  SELECT lang, n_docs,
         CAST(floor(least(1.0,
             (floor(CAST(total AS DOUBLE) * {MIX_TARGET_FRAC})
              * CAST(iw AS DOUBLE))
             / (CAST(siw AS DOUBLE) * CAST(n_docs AS DOUBLE)))
           * {_P_SCALE}) AS BIGINT) AS ithr
  FROM w CROSS JOIN tot
),
samp AS (
  SELECT d.lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM documents d JOIN thr USING (lang)
  WHERE {hash32_sql("'mix:' || CAST(doc_id AS VARCHAR)")} % {_P_SCALE} < ithr
  GROUP BY d.lang
)
SELECT thr.lang, n_docs, CAST(ithr AS DOUBLE) / {_P_SCALE} AS sample_p,
       CAST(coalesce(n_sampled, 0) AS BIGINT) AS n_sampled,
       CAST(coalesce(sum_chars, 0) AS BIGINT) AS sum_chars
FROM thr LEFT JOIN samp USING (lang)
"""


# --- q70: SCD2 dimension-history construction ----------------------------

# Open intervals carry a NULL effective_to (is_current marks them); a
# far-future sentinel like 9999-12-31 overflows pandas' datetime64[ns]
# range (max 2262-04-11) and breaks any Arrow/pandas consumer of the
# result, so NULL is the portable encoding.
SCD2_CUST_MOD = 7                      # sample 1/7 of customers for output


def q70_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history of each
    customer's order priority from the orders change-log (reference's
    dimension upsert, K4 in SURVEY §2, extended to full history): one
    observation per (customer, day) — arg-min by orderkey for same-day
    determinism — collapsed into effective_from/effective_to version
    intervals wherever the attribute actually changed.

    Scale shape: one shuffle on custkey serves all three windows
    (same-day pick, change detection, interval close) — Catalyst chains
    them in a single sort within the same exchange. Output is sampled
    (custkey % 7 == 0) with the filter at the scan, so the demo result
    stays bounded while the plan is the full-history build."""
    orders = (load(spark, sf_dir, "orders")
              .filter(F.col("o_custkey") % SCD2_CUST_MOD == 0)
              # one explicit exchange on custkey; every window below has
              # its ClusteredDistribution satisfied by it (their keys are
              # supersets), so no further shuffles are inserted
              .repartition(spark.sparkContext.defaultParallelism,
                           "o_custkey"))
    w_day = (Window.partitionBy("o_custkey", "o_orderdate")
             .orderBy("o_orderkey"))
    obs = (orders
           .withColumn("rn", F.row_number().over(w_day))
           .filter(F.col("rn") == 1)
           .select("o_custkey", "o_orderdate", "o_orderpriority"))
    w_hist = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    changed = (obs
               .withColumn("prev", F.lag("o_orderpriority").over(w_hist))
               .filter(F.col("prev").isNull()
                       | (F.col("prev") != F.col("o_orderpriority"))))
    w_ver = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    return (changed
            .withColumn("version_n", F.row_number().over(w_ver).cast("int"))
            .withColumn("effective_to", F.lead("o_orderdate").over(w_ver))
            .select(F.col("o_custkey").alias("custkey"),
                    F.col("version_n"),
                    F.col("o_orderpriority").alias("priority"),
                    F.col("o_orderdate").alias("effective_from"),
                    "effective_to",
                    F.col("effective_to").isNull().alias("is_current")))


_SCD2_CHANGED_CTES = f"""obs AS (
  SELECT o_custkey, o_orderdate, o_orderpriority
  FROM (SELECT *, row_number() OVER (
          PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey) AS rn
        FROM orders WHERE o_custkey % {SCD2_CUST_MOD} = 0)
  WHERE rn = 1
),
changed AS (
  SELECT o_custkey, o_orderdate, o_orderpriority
  FROM (SELECT *, lag(o_orderpriority) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate) AS prev
        FROM obs)
  WHERE prev IS NULL OR prev <> o_orderpriority
)"""

_Q70_SQL = f"""
WITH {_SCD2_CHANGED_CTES}
SELECT o_custkey AS custkey,
       CAST(row_number() OVER w AS INT) AS version_n,
       o_orderpriority AS priority,
       o_orderdate AS effective_from,
       lead(o_orderdate) OVER w AS effective_to,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM changed
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
"""


# --- q103: SCD2 point-in-time enrichment (dimension as-of join) ----------


def q103_scd2_pit_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) dimension lookup: enrich every fact row with
    the dimension version that was effective WHEN THE FACT HAPPENED —
    the consumer of q70's SCD2 history and the join every
    warehouse/feature-store runs to avoid time-travel leakage (training
    a model on attributes that weren't yet true at event time). Each
    sampled customer's orders get the priority version effective at
    their order date.

    Scale shape: deliberately NOT the textbook interval join
    (fact ⋈ dim ON from <= d AND d < to — a range predicate Spark
    plans as equi-join-on-key + interval filter, fanning every fact row
    out to all versions of its key): the PIT pick IS an as-of join, so
    it runs through operators/asof.asof_join_union — versions and facts
    union, ONE shuffle on custkey, one window pass carries the latest
    version forward. The oracle states the interval-containment form,
    certifying the union+window trick implements exactly those
    semantics (half-open [from, to) version validity)."""
    orders = (load(spark, sf_dir, "orders")
              .filter(F.col("o_custkey") % SCD2_CUST_MOD == 0)
              .select(F.col("o_orderkey").alias("orderkey"),
                      F.col("o_custkey").alias("custkey"),
                      F.col("o_orderdate").alias("orderdate")))
    hist = q70_scd2_history(spark, sf_dir).select(
        "custkey", F.col("effective_from").alias("eff_from"),
        "priority", "version_n")
    out = asof_join_union(orders, hist, ["custkey"], "orderdate",
                          "eff_from", right_value_cols=["priority",
                                                        "version_n"],
                          strict=False)
    return out.select("orderkey", "custkey", "orderdate",
                      F.col("asof_priority").alias("priority_at_order"),
                      F.col("asof_version_n").alias("version_at_order"))


_Q103_SQL = f"""
WITH {_SCD2_CHANGED_CTES},
hist AS (
  SELECT o_custkey AS custkey,
         CAST(row_number() OVER w AS INT) AS version_n,
         o_orderpriority AS priority,
         o_orderdate AS eff_from,
         lead(o_orderdate) OVER w AS eff_to
  FROM changed
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
)
SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
       o.o_orderdate AS orderdate,
       v.priority AS priority_at_order,
       v.version_n AS version_at_order
FROM orders o JOIN hist v
  ON v.custkey = o.o_custkey
 AND v.eff_from <= o.o_orderdate
 AND (v.eff_to IS NULL OR o.o_orderdate < v.eff_to)
WHERE o.o_custkey % {SCD2_CUST_MOD} = 0
"""


# --- q97: BM25 document ranking ------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_QTERMS = 5   # query = the N most document-frequent tokens
BM25_TOP_K = 20
_BM25_K1P1 = BM25_K1 + 1.0   # computed once in Python and interpolated
_BM25_OMB = 1.0 - BM25_B     # into the SQL, so both engines see the
                             # SAME double literals, not re-derived ones


def q97_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring — the ranking function behind corpus
    search / retrieval-based decontamination, one step past q67's
    additive TF-IDF: per-term saturation (k1) and doc-length
    normalization (b) against the corpus-average length. The query is
    derived from the corpus itself (the ``BM25_N_QTERMS`` highest-df
    tokens, tiebreak on token) so both engines construct the identical
    query; output is the top-``BM25_TOP_K`` docs by total score.

    Scale shape: tokens explode into TWO map-side-combinable hash aggs
    ((doc, token) tf and token df — q67's shuffles); corpus stats
    (N, Σdl) are a one-row aggregate broadcast back; the query-term
    table is broadcast so scoring touches only matching (doc, term)
    pairs (≤ |Q|·|docs| rows, |Q| = 5); the final top-k is
    TakeOrdered, never a global sort.

    Determinism: per-(doc, term) scores are quantized to integer
    micro-units BEFORE the per-doc sum (exact BIGINT addition is
    shuffle-order-independent; a 5-double float sum would not be), and
    ln() appears only inside the quantization — the module-docstring
    argument for why a last-ulp libm divergence cannot flip ranks."""
    toks = _tokens_df(spark, sf_dir)
    dl = toks.select("doc_id", "lang", F.size("tk").cast("long").alias("dl"))
    tf = (toks.select("doc_id", F.explode("tk").alias("token"))
          .groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    qterms = (dfreq.orderBy(F.col("df").desc(), F.col("token").asc())
              .limit(BM25_N_QTERMS))
    stats = dl.agg(F.count("*").alias("n_docs"),
                   F.sum("dl").alias("sum_dl"))

    avgdl = (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double"))
    idf = F.log((F.col("n_docs").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    denom = (F.col("tf") + BM25_K1
             * (_BM25_OMB + (BM25_B * F.col("dl")) / avgdl))
    score_t = (idf * (F.col("tf") * _BM25_K1P1)) / denom
    terms = (tf.join(F.broadcast(qterms), "token")
             .join(dl, "doc_id")
             .crossJoin(F.broadcast(stats))
             .select("doc_id",
                     F.floor(score_t * 1_000_000 + F.lit(0.5)).cast("long")
                     .alias("score_q")))
    docscore = terms.groupBy("doc_id").agg(F.sum("score_q").alias("sq"))
    top = (docscore.orderBy(F.col("sq").desc(), F.col("doc_id").asc())
           .limit(BM25_TOP_K))
    w = Window.orderBy(F.col("sq").desc(), F.col("doc_id").asc())
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .join(F.broadcast(dl), "doc_id")
            .select("rank", "doc_id", "lang", "dl",
                    (F.col("sq").cast("double") / 1_000_000).alias("score")))


_Q97_SQL = f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, lang, CAST(len(tk) AS BIGINT) AS dl FROM toks),
tf AS (
  SELECT doc_id, t AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
  GROUP BY 1, 2
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
qterms AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT {BM25_N_QTERMS}),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM dl
),
terms AS (
  SELECT tf.doc_id,
         CAST(floor(
           ((ln((CAST(n_docs AS DOUBLE) - q.df + 0.5) / (q.df + 0.5) + 1.0)
             * (tf.tf * {_BM25_K1P1!r}))
            / (tf.tf + {BM25_K1!r}
               * ({_BM25_OMB!r} + ({BM25_B!r} * d.dl)
                  / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
           * 1000000 + 0.5) AS BIGINT) AS score_q
  FROM tf JOIN qterms q USING (token)
  JOIN dl d ON tf.doc_id = d.doc_id
  CROSS JOIN stats
),
docscore AS (
  SELECT doc_id, CAST(sum(score_q) AS BIGINT) AS sq
  FROM terms GROUP BY doc_id
),
top AS (SELECT doc_id, sq FROM docscore ORDER BY sq DESC, doc_id LIMIT {BM25_TOP_K})
SELECT CAST(row_number() OVER (ORDER BY sq DESC, doc_id) AS INT) AS rank,
       doc_id, d.lang, d.dl, CAST(sq AS DOUBLE) / 1000000 AS score
FROM top JOIN dl d USING (doc_id)
"""


# --- q101: bigram-LM novelty scoring -------------------------------------

BIGRAM_RARE_DF = 2    # a bigram seen in ≤ this many docs is "rare"
BIGRAM_NOVEL_PCT = 2  # flag docs whose rare-bigram share exceeds 2%
                      # (the synthetic corpus is templated, so rare
                      # shares are small: p99 ≈ 3%, max ≈ 9% at sf0.01 —
                      # 2% flags the genuine high-novelty tail)


def q101_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-style familiarity filter: build a corpus bigram model (per-
    bigram document frequency), score every document by how familiar
    its bigrams are, and flag high-novelty outliers — the
    transcendental-free analogue of the KenLM-perplexity quality gate
    every web-scale corpus runs (a doc whose bigrams the corpus has
    never seen is boilerplate, a glossary, or garbage). Familiarity is
    mean bigram df in exact micro-units ((Σdf·1e6) div n — integer
    division, never a float detour) and the novelty flag is the integer
    cross-multiplication n_rare·100 > pct·n, so no boundary can flip on
    engine float rounding; ln-perplexity would add nothing the
    rank/flag semantics need (q67's docstring covers the ln-safety
    pattern when a log IS needed).

    Scale shape: bigrams become 32-bit hashes before any shuffle
    (longs, never gram text); the model is one distinct + hash agg
    (map-side combinable, shuffle ∝ distinct (doc, gram)); scoring
    re-joins on the high-cardinality hash — shuffle-balanced, no
    corpus broadcast, nothing quadratic. Short docs (< 2 tokens) have
    no bigrams and surface with n_bigrams = 0, never dropped."""
    grams = (_tokens_df(spark, sf_dir)
             .select("doc_id",
                     F.explode(textstats.word_ngrams(F.col("tk"), 2))
                     .alias("g"))
             .select("doc_id", hash32(F.col("g")).alias("gh")))
    dfreq = (grams.distinct()
             .groupBy("gh").agg(F.count("*").alias("df")))
    sc = (grams.join(dfreq, "gh")
          .groupBy("doc_id")
          .agg(F.count(F.lit(1)).alias("n_bigrams"),
               F.sum("df").alias("sum_df"),
               F.sum(F.when(F.col("df") <= BIGRAM_RARE_DF, 1).otherwise(0))
               .alias("n_rare")))
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    out = docs.join(sc, "doc_id", "left")
    nb = F.coalesce("n_bigrams", F.lit(0).cast("long"))
    nr = F.coalesce("n_rare", F.lit(0).cast("long"))
    fam = F.expr("(sum_df * CAST(1000000 AS BIGINT)) div n_bigrams")
    return out.select(
        "doc_id", "lang",
        nb.alias("n_bigrams"), nr.alias("n_rare"),
        F.when(nb > 0, fam).alias("fam_e6"),
        F.coalesce(nr * 100 > BIGRAM_NOVEL_PCT * F.col("n_bigrams"),
                   F.lit(False)).alias("is_novel"))


_Q101_SQL = f"""
WITH {_TOKS_CTE},
grams AS (
  SELECT doc_id, {hash32_sql('g')} AS gh
  FROM (SELECT doc_id,
               unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))])
                 AS g
        FROM toks WHERE len(tk) >= 2)
),
dfreq AS (
  SELECT gh, count(*) AS df
  FROM (SELECT DISTINCT doc_id, gh FROM grams) GROUP BY gh
),
sc AS (
  SELECT g.doc_id, count(*) AS n_bigrams,
         CAST(sum(d.df) AS BIGINT) AS sum_df,
         CAST(sum(CASE WHEN d.df <= {BIGRAM_RARE_DF} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_rare
  FROM grams g JOIN dfreq d USING (gh) GROUP BY g.doc_id
)
SELECT d.doc_id, d.lang,
       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(n_rare, 0) AS BIGINT) AS n_rare,
       CASE WHEN n_bigrams > 0
            THEN CAST((sum_df * 1000000) // n_bigrams AS BIGINT) END
         AS fam_e6,
       coalesce(n_rare * 100 > {BIGRAM_NOVEL_PCT} * n_bigrams, FALSE)
         AS is_novel
FROM documents d LEFT JOIN sc USING (doc_id)
"""


# --- q116: trained quality scorer (ridge via exact normal equations) -----

RIDGE_LAMBDA = 1  # exact integer added to every Gram diagonal entry:
                  # makes A = XtX + lambda*I positive definite, so the
                  # solve survives degenerate corpora (constant or
                  # all-zero feature columns) with det(A) > 0
Q116_TOP_K = 5

# 3x3 determinant by cofactor expansion, as ONE template instantiated
# by BOTH engines (Python eval on the driver for the Spark path, SQL
# text for the DuckDB oracle). Sharing the template pins the operation
# ORDER, and IEEE-754 doubles make identically-ordered arithmetic on
# identical inputs bit-identical across engines — the same contract
# q69 relies on. The inputs themselves are exact BIGINT sums.
_DET3_T = ("({a00})*(({a11})*({a22}) - ({a12})*({a21})) "
           "- ({a01})*(({a10})*({a22}) - ({a12})*({a20})) "
           "+ ({a02})*(({a10})*({a21}) - ({a11})*({a20}))")


def _det3(vals: dict[str, float]) -> float:
    return eval(_DET3_T.format(  # noqa: S307 - fixed template, no input
        **{k: repr(v) for k, v in vals.items()}))


def _sym3(d00, d01, d02, d11, d12, d22):
    """Full 3x3 entry map from the symmetric upper triangle."""
    return {"a00": d00, "a01": d01, "a02": d02,
            "a10": d01, "a11": d11, "a12": d12,
            "a20": d02, "a21": d12, "a22": d22}


def _y_micro_spark(n_tok, char_sum, stop):
    """q31's composite quality heuristic in exact micro-units — the
    regression TARGET (the trained scorer distills the hand-weighted
    gate into a linear model over raw counts)."""
    avg_len = char_sum / n_tok
    stop_ratio = stop / n_tok
    score = (0.3 * F.least(n_tok / 60.0, F.lit(1.0))
             + 0.4 * (1.0 - stop_ratio)
             + 0.3 * F.least(avg_len / 5.0, F.lit(1.0)))
    return F.floor(score * 1_000_000 + F.lit(0.5)).cast("long")


def _q116_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, x1 = token count, x2 = stopword count, y = micro-unit
    target) for every token-ful document."""
    toked = _tokens_df(spark, sf_dir)
    d = toked.filter(F.size("tk") > 0)
    n_tok = F.size("tk").cast("long")
    char_sum = F.aggregate(
        F.transform(F.col("tk"), lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    stop = (F.size(F.filter(F.col("tk"), lambda t: t == F.lit("the")))
            + F.size(F.filter(F.col("tk"), lambda t: t == F.lit("a")))
            ).cast("long")
    return d.select("doc_id", n_tok.alias("x1"), stop.alias("x2"),
                    _y_micro_spark(n_tok, char_sum, stop).alias("y"))


def _q116_solve(feats: DataFrame) -> tuple[float, float, float] | None:
    """One normal-equation aggregate pass + the driver-side 3x3 Cramer
    solve. Returns None on an empty (token-less) corpus."""
    lam = float(RIDGE_LAMBDA)
    s = feats.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y")).first()
    if not s["n"]:
        return None
    n, s1, s2 = float(s["n"]), float(s["s1"]), float(s["s2"])
    s11, s12, s22 = float(s["s11"]), float(s["s12"]), float(s["s22"])
    sy, s1y, s2y = float(s["sy"]), float(s["s1y"]), float(s["s2y"])
    det = _det3(_sym3(n + lam, s1, s2, s11 + lam, s12, s22 + lam))
    # Cramer columns: replace column i of A with b = (sy, s1y, s2y)
    w0 = _det3({"a00": sy, "a01": s1, "a02": s2,
                "a10": s1y, "a11": s11 + lam, "a12": s12,
                "a20": s2y, "a21": s12, "a22": s22 + lam}) / det
    w1 = _det3({"a00": n + lam, "a01": sy, "a02": s2,
                "a10": s1, "a11": s1y, "a12": s12,
                "a20": s2, "a21": s2y, "a22": s22 + lam}) / det
    w2 = _det3({"a00": n + lam, "a01": s1, "a02": sy,
                "a10": s1, "a11": s11 + lam, "a12": s1y,
                "a20": s2, "a21": s12, "a22": s2y}) / det
    return (w0, w1, w2)


def q116_trained_quality_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge-trained linear quality scorer — the Spark-shaped version
    of the fastText/classifier quality gates real pipelines run
    (today's q31/q63/q101 gates are hand-weighted heuristics; this one
    LEARNS its weights). Features are exact integer counts per doc
    (x1 = token count, x2 = stopword count); the target distills q31's
    composite score into micro-units.

    Exact distributed training: ONE map-side-combinable pass aggregates
    the D^2 normal-equation partials (XtX, Xty) as exact BIGINT sums of
    integer products — order-independent, so cross-engine identical —
    then the tiny (D+1)x(D+1)=3x3 system is solved in closed form
    (Cramer, shared-template operation order) driver-side, and the
    weights are broadcast back as literals for a map-only scoring pass.
    All partial sums stay below 2^53 by construction (micro-unit target
    x token counts x corpus rows; see module tests), so the
    BIGINT->double casts entering the solve are value-exact.

    Scale shape: aggregate shuffle is D^2 longs per partition (a few
    hundred bytes), scoring is a map — the whole thing is two passes
    over the corpus with nothing driver-side but a 3x3 solve. Output:
    learned weights (every row) + the top-5 docs by predicted quality."""
    feats = _q116_feats(spark, sf_dir)
    weights = _q116_solve(feats)
    schema = ("doc_id bigint, n_tokens bigint, n_stop bigint,"
              " pred_quality double, w0 double, w1 double, w2 double")
    if weights is None:
        return local_frame(spark, [], schema)
    w0, w1, w2 = weights
    pred = (F.lit(w0) + F.lit(w1) * F.col("x1").cast("double")
            + F.lit(w2) * F.col("x2").cast("double"))
    return (feats
            .select("doc_id", F.col("x1").alias("n_tokens"),
                    F.col("x2").alias("n_stop"),
                    round_half_up(pred / 1_000_000, 6).alias("pred_quality"),
                    round_half_up(F.lit(w0), 6).alias("w0"),
                    round_half_up(F.lit(w1), 6).alias("w1"),
                    round_half_up(F.lit(w2), 6).alias("w2"))
            .orderBy(F.desc("pred_quality"), "doc_id")
            .limit(Q116_TOP_K))


def _q116_sql(weights_only: bool = False) -> str:
    """``weights_only`` returns the UNROUNDED solved weights — used by
    tests/test_training_ops.py to bit-compare DuckDB's solve against
    the driver-side Python solve (same template, same IEEE doubles)."""
    lam = f"{float(RIDGE_LAMBDA)!r}"

    def det3(m: dict[str, str]) -> str:
        return _DET3_T.format(**m)

    a = {"a00": f"(sd.n + {lam})", "a01": "sd.s1", "a02": "sd.s2",
         "a10": "sd.s1", "a11": f"(sd.s11 + {lam})", "a12": "sd.s12",
         "a20": "sd.s2", "a21": "sd.s12", "a22": f"(sd.s22 + {lam})"}
    det = det3(a)
    w0 = det3({**a, "a00": "sd.sy", "a10": "sd.s1y", "a20": "sd.s2y"})
    w1 = det3({**a, "a01": "sd.sy", "a11": "sd.s1y", "a21": "sd.s2y"})
    w2 = det3({**a, "a02": "sd.sy", "a12": "sd.s1y", "a22": "sd.s2y"})
    return f"""
WITH {_TOKS_CTE.strip().rstrip(',')},
m AS (
  SELECT doc_id,
         CAST(len(tk) AS BIGINT) AS x1,
         list_sum(list_transform(tk, t -> CAST(length(t) AS BIGINT))) AS cs,
         CAST(len(list_filter(tk, t -> t = 'the')) AS BIGINT)
           + CAST(len(list_filter(tk, t -> t = 'a')) AS BIGINT) AS x2
  FROM toks WHERE len(tk) > 0
),
f AS (
  SELECT doc_id, x1, x2,
         CAST(floor((0.3 * least(x1 / 60.0, 1.0)
                     + 0.4 * (1.0 - x2 / x1)
                     + 0.3 * least((cs / x1) / 5.0, 1.0))
                    * 1000000 + 0.5) AS BIGINT) AS y
  FROM m
),
s AS (
  SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2,
         sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
         sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
  FROM f
),
sd AS (
  SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
         CAST(s2 AS DOUBLE) AS s2, CAST(s11 AS DOUBLE) AS s11,
         CAST(s12 AS DOUBLE) AS s12, CAST(s22 AS DOUBLE) AS s22,
         CAST(sy AS DOUBLE) AS sy, CAST(s1y AS DOUBLE) AS s1y,
         CAST(s2y AS DOUBLE) AS s2y
  FROM s
),
w AS (
  SELECT ({w0}) / ({det}) AS w0,
         ({w1}) / ({det}) AS w1,
         ({w2}) / ({det}) AS w2
  FROM sd
)
{"SELECT w0, w1, w2 FROM w" if weights_only else f'''
SELECT doc_id, x1 AS n_tokens, x2 AS n_stop,
       {round_half_up_sql(
           '(w.w0 + w.w1 * CAST(x1 AS DOUBLE)'
           ' + w.w2 * CAST(x2 AS DOUBLE)) / 1000000', 6)} AS pred_quality,
       {round_half_up_sql('w.w0', 6)} AS w0,
       {round_half_up_sql('w.w1', 6)} AS w1,
       {round_half_up_sql('w.w2', 6)} AS w2
FROM f CROSS JOIN w
ORDER BY pred_quality DESC, doc_id
LIMIT {Q116_TOP_K}'''}
"""


_Q116_SQL = _q116_sql()


# --- q115: BPE tokenizer training (iterative pair-merge) -----------------

BPE_MERGES = 64          # gate-scale vocab; production V ~ 3e4 scales the
                         # round count linearly, nothing else changes
BPE_CHECKPOINT_EVERY = 16


def q115_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a 64-merge BPE vocabulary from the document corpus
    (operators/bpe.train_bpe) and return the merge table itself —
    (merge_rank, lhs, rhs, merged, pair_count) in training order. The
    cross-engine hash certifies the ENTIRE training trajectory: a single
    diverging argmax (count ties included) changes every later round.

    Pre-tokenization is the repo's shared tokenizer (textstats.tokens),
    so the learned subwords refine the same word stream q32/q78 count.
    Scale shape: one corpus-scale map-side-combinable word-frequency
    aggregate, then V rounds over the distinct-word table only (see
    operators/bpe docstring for the 100 TB argument)."""
    from ..operators import bpe
    toked = _tokens_df(spark, sf_dir)
    wf = (toked.select(F.explode("tk").alias("word"))
          .groupBy("word").agg(F.count("*").alias("freq"))
          .select(bpe.wrap_word(F.col("word")).alias("w"), "freq"))
    merges = bpe.train_bpe(wf, BPE_MERGES,
                           checkpoint_every=BPE_CHECKPOINT_EVERY)
    return local_frame(
        spark, merges,
        "merge_rank int, lhs string, rhs string, merged string,"
        " pair_count long")


def _bpe_ctes(v: int) -> list[str]:
    """Unrolled CTE chain of the V-round merge recursion (q82's
    pattern), shared by the q115 (training) and q119 (encoding)
    oracles. MATERIALIZED is load-bearing: w{k} and m{k} are each
    referenced twice, and inlining would double the expression tree per
    round. Pair extraction splits the wrapped word on the double
    separator; the merge is the same left-to-right non-overlapping
    ``replace`` as the Spark side (operators/bpe docstring)."""
    u = "chr(31)"
    ctes = [f"""w0 AS MATERIALIZED (
  SELECT regexp_replace(w, '(.)', {u} || '\\1' || {u}, 'g') AS w,
         count(*) AS freq
  FROM (
    SELECT unnest(list_filter(regexp_split_to_array(translate(text,
      'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
      '[^a-z0-9]+'), x -> x <> '')) AS w
    FROM documents
  ) GROUP BY w
)"""]
    for k in range(v):
        ctes.append(f"""p{k} AS (
  SELECT l[i] AS a, l[i+1] AS b, sum(freq) AS cnt
  FROM (SELECT string_split(trim(w, {u}), {u} || {u}) AS l, freq
        FROM w{k}),
       unnest(range(1, len(l))) AS t(i)
  GROUP BY 1, 2
)""")
        ctes.append(f"""m{k} AS MATERIALIZED (
  SELECT {k + 1} AS merge_rank, a, b, a || b AS merged,
         CAST(cnt AS BIGINT) AS pair_count
  FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
)""")
        ctes.append(f"""w{k + 1} AS MATERIALIZED (
  SELECT replace(w.w, {u} || m.a || {u} || {u} || m.b || {u},
                 {u} || m.merged || {u}) AS w, w.freq
  FROM w{k} w, m{k} m
)""")
    return ctes


def _bpe_sql(v: int) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT merge_rank, a AS lhs, b AS rhs, merged, pair_count"
        f" FROM m{k}" for k in range(v))
    return "WITH " + ",\n".join(_bpe_ctes(v)) + "\n" + union


_Q115_SQL = _bpe_sql(BPE_MERGES)


# --- q119: BPE encoding (apply the learned merge table) ------------------

BPE_ENCODE_MERGES = 16  # encoding semantics are rank-order application;
                        # a small vocab keeps the train step cheap while
                        # gating the same apply recursion as V ~ 3e4


def q119_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the deploy half of q115's training: learn
    a merge table, then segment the corpus with it and return per-doc
    subword statistics (word count, subword count, char count, 6dp
    compression ratio). The encode itself is ONE JVM projection of V
    nested ``replace`` calls in merge-rank order (operators/
    bpe.encode_expr), applied to the DISTINCT-WORD table — each unique
    word is segmented once, then per-doc stats come from a hash join of
    the token stream back to the encoded vocabulary and one aggregate.

    Scale shape: ONE corpus explode pass builds (doc, word) occurrence
    counts with a map-side combiner; the trainer's word frequencies
    re-aggregate that table (not the corpus), encode is map-only over
    the vocab, and the stats pass joins the (doc, word) table — rows ∝
    distinct pairs, never the token stream — to the encoded vocab
    (broadcast when small, plain hash join at Heaps-law scale) with
    occurrence counts as exact BIGINT weights. Nothing quadratic, no
    Python."""
    from ..operators import bpe
    toked = _tokens_df(spark, sf_dir)
    # ONE corpus explode pass: (doc, word) occurrence counts with a
    # map-side combiner. Everything downstream — the trainer's word
    # frequencies AND the per-doc stats join — runs over this table,
    # whose row count is distinct (doc, word) pairs, not the token
    # stream (the r8 shape exploded the corpus twice and shuffled every
    # token occurrence into the stats join; at the 100x probe that was
    # most of q119's 69s)
    dw = (toked.select("doc_id", F.explode("tk").alias("word"))
          .groupBy("doc_id", "word").agg(F.count("*").alias("c"))
          .persist())
    wf = (dw.groupBy("word").agg(F.sum("c").alias("freq"))
          .select("word", bpe.wrap_word(F.col("word")).alias("w"), "freq"))
    merges = bpe.train_bpe(wf.select("w", "freq"), BPE_ENCODE_MERGES,
                           checkpoint_every=BPE_CHECKPOINT_EVERY)
    enc = bpe.encode_words(wf, "w", merges, "enc").select(
        "word",
        bpe.symbol_count(F.col("enc")).alias("n_sub"),
        F.length("word").cast("long").alias("n_chr"))
    per_doc = (dw.join(enc, "word")
               .groupBy("doc_id")
               .agg(F.sum("c").alias("n_words"),
                    F.sum(F.col("c") * F.col("n_sub")).alias("n_subwords"),
                    F.sum(F.col("c") * F.col("n_chr")).alias("n_chars_tok")))
    ratio = F.col("n_subwords") / F.col("n_words")
    return per_doc.select(
        "doc_id", "n_words", "n_subwords", "n_chars_tok",
        round_half_up(ratio, 6).alias("subwords_per_word"))


def _q119_sql() -> str:
    u = "chr(31)"
    ctes = ",\n".join(_bpe_ctes(BPE_ENCODE_MERGES))
    # apply merges in rank order: V nested replaces whose pattern /
    # replacement come from scalar subqueries on the m{k} CTEs; the
    # chr(30) sentinel makes a dry round (empty m{k}) a no-op instead
    # of NULLing the word out
    enc = "w0.w"
    for k in range(BPE_ENCODE_MERGES):
        pat = (f"(SELECT {u} || a || {u} || {u} || b || {u} FROM m{k})")
        rep = f"(SELECT {u} || merged || {u} FROM m{k})"
        enc = (f"replace({enc}, coalesce({pat}, chr(30)),"
               f" coalesce({rep}, chr(30)))")
    return f"""
WITH {ctes},
enc AS (
  SELECT trim(w0.w, {u}) AS plain_w,
         CAST(len(string_split(trim({enc}, {u}), {u} || {u})) AS BIGINT)
           AS n_sub
  FROM w0
),
ev AS (
  SELECT replace(plain_w, {u}, '') AS word, n_sub,
         CAST(length(replace(plain_w, {u}, '')) AS BIGINT) AS n_chr
  FROM enc
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM documents
),
stream AS (SELECT doc_id, unnest(tk) AS word FROM toks),
per_doc AS (
  SELECT doc_id, count(*) AS n_words,
         CAST(sum(n_sub) AS BIGINT) AS n_subwords,
         CAST(sum(n_chr) AS BIGINT) AS n_chars_tok
  FROM stream JOIN ev USING (word)
  GROUP BY doc_id
)
SELECT doc_id, n_words, n_subwords, n_chars_tok,
       {round_half_up_sql('n_subwords / n_words', 6)} AS subwords_per_word
FROM per_doc
"""


_Q119_SQL = _q119_sql()


# --- q121: DSIR hashed-n-gram importance weights --------------------------

DSIR_BUCKETS = 4096        # hashed feature space (B)
DSIR_TARGET_SOURCE = "src0"  # the "curated" target distribution


def _dsir_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DSIR score builder for q121 (weights) and q130
    (resampling): one row per document with ``source``, ``n_chars``,
    ``n_feats`` and the exact integer micro-unit importance weight
    ``w_q`` (zero-token docs surface with n_feats = 0 and w_q = 0).
    See :func:`q121_dsir_weights` for semantics and the scale shape."""
    docs = load(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toked = docs.select("doc_id", "source",
                        textstats.tokens(F.col("text")).alias("tk"))
    grams = F.concat(F.col("tk"), textstats.word_ngrams(F.col("tk"), 2))
    feats = (toked.select("doc_id", "source", F.explode(grams).alias("g"))
             .select("doc_id", "source",
                     (hash32(F.col("g")) % DSIR_BUCKETS).alias("bucket")))
    docfeat = (feats.groupBy("doc_id", "source", "bucket")
               .agg(F.count("*").alias("cnt"))
               .persist())  # feeds raw counts, target counts, scoring
    raw = docfeat.groupBy("bucket").agg(F.sum("cnt").alias("c_r"))
    tgt = (docfeat.filter(F.col("source") == DSIR_TARGET_SOURCE)
           .groupBy("bucket").agg(F.sum("cnt").alias("c_t")))
    totals = (docfeat.agg(
        F.sum("cnt").alias("n_r"),
        F.sum(F.when(F.col("source") == DSIR_TARGET_SOURCE,
                     F.col("cnt")).otherwise(F.lit(0))).alias("n_t")))
    lr = (raw.join(tgt, "bucket", "left")
          .crossJoin(F.broadcast(totals))
          .select("bucket", F.floor(
              (F.log((F.coalesce("c_t", F.lit(0)) + F.lit(1.0))
                     / (F.col("n_t") + F.lit(float(DSIR_BUCKETS))))
               - F.log((F.col("c_r") + F.lit(1.0))
                       / (F.col("n_r") + F.lit(float(DSIR_BUCKETS)))))
              * 1_000_000).cast("long").alias("lr_q")))
    scored = (docfeat.join(F.broadcast(lr), "bucket")
              .groupBy("doc_id")
              .agg(F.sum("cnt").alias("n_feats"),
                   F.sum(F.col("cnt") * F.col("lr_q")).alias("w_q")))
    return (docs.select("doc_id", "source", "n_chars")
            .join(scored, "doc_id", "left")
            .select("doc_id", "source", "n_chars",
                    F.coalesce("n_feats", F.lit(0).cast("long"))
                    .alias("n_feats"),
                    F.coalesce("w_q", F.lit(0).cast("long")).alias("w_q")))


def q121_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): estimate per-document importance weights
    log(p_target(d)/p_raw(d)) under hashed-n-gram bag models and flag
    the docs a target-matched training mix would select. The target
    distribution is a curated slice (here: ``source = 'src0'``); the
    raw distribution is the whole corpus.

    Features are unigrams ∪ bigrams hashed into ``DSIR_BUCKETS``
    buckets (the paper's hashed generative model). Per-bucket
    log-ratios use Laplace smoothing over the bucket space and are
    quantized to integer micro-units BEFORE the per-doc sum (exact
    BIGINT addition — shuffle-order-independent; the module docstring's
    q67/q97 argument covers why a last-ulp libm ln divergence inside
    the quantization cannot flip results). ``selected`` is the exact
    integer comparison weight_q > 0 (doc looks more target- than
    raw-like).

    Scale shape: features leave the tokenizer as (doc_id, bucket int)
    pairs — text never shuffles; bucket count tables are map-side
    combinable aggregates bounded by B, broadcast back for scoring; the
    per-doc sum re-joins on the bucket hash (shuffle ∝ distinct
    (doc, bucket), nothing quadratic, no corpus broadcast). Zero-token
    docs surface with n_feats = 0 and weight 0, never dropped."""
    return (_dsir_doc_scores(spark, sf_dir)
            .select("doc_id", "n_feats",
                    (F.col("w_q").cast("double") / 1_000_000)
                    .alias("weight"),
                    (F.col("w_q") > 0).alias("selected")))


# shared DSIR CTE chain (ends at ``scored``: doc_id, n_feats, w_q) —
# used by both q121 and q130. docfeat is MATERIALIZED: four CTE
# references, and DuckDB inlines plain CTEs per reference.
_DSIR_CTES = f"""toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM documents
),
feats AS (
  SELECT doc_id, source,
         {hash32_sql('g')} % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, source,
               unnest(list_concat(tk,
                 [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))])) AS g
        FROM toks)
),
docfeat AS MATERIALIZED (
  SELECT doc_id, source, bucket, count(*) AS cnt
  FROM feats GROUP BY 1, 2, 3
),
raw AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_r
        FROM docfeat GROUP BY bucket),
tgt AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_t
        FROM docfeat WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bucket),
totals AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_r,
         CAST(sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}'
                       THEN cnt ELSE 0 END) AS BIGINT) AS n_t
  FROM docfeat
),
lr AS (
  SELECT bucket,
         CAST(floor(
           (ln((coalesce(c_t, 0) + 1.0) / (n_t + {DSIR_BUCKETS}.0))
            - ln((c_r + 1.0) / (n_r + {DSIR_BUCKETS}.0)))
           * 1000000) AS BIGINT) AS lr_q
  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN totals
),
scored AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
         CAST(sum(cnt * lr_q) AS BIGINT) AS w_q
  FROM docfeat JOIN lr USING (bucket)
  GROUP BY doc_id
)"""

_Q121_SQL = f"""
WITH {_DSIR_CTES}
SELECT d.doc_id,
       coalesce(n_feats, 0) AS n_feats,
       CAST(coalesce(w_q, 0) AS DOUBLE) / 1000000 AS weight,
       coalesce(w_q, 0) > 0 AS selected
FROM documents d LEFT JOIN scored USING (doc_id)
"""


# --- q130: DSIR importance RESAMPLING (the second half of the paper) -----

RS_SHIFT = 200_000_000  # per-feature |log-ratio| bound, micro-units
RS_CENTER_PM = 500      # keep-probability at the corpus mean, permille


def q130_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's resampling stage: q121 computes importance weights; this
    query actually DRAWS the target-matched subcorpus and reports the
    per-source mix shift. Selection is a deterministic hash-Bernoulli
    gate — keep a doc iff hash(doc_id) mod 1000 < p — with keep
    probability a piecewise-linear squash (the logistic's mid-segment)
    of the doc's per-feature importance, centered on the corpus mean:
    mean-importance docs keep at RS_CENTER_PM permille, each milli-ln
    of per-feature log-ratio above/below shifts p by one permille,
    clamped to [0, 1000]. Deterministic ≡ reproducible shards and
    incremental re-runs (the paper's Gumbel top-k needs a global sort;
    this is the streaming-friendly variant at the same mix shift).

    Exactness: every floor division runs on NON-NEGATIVE operands —
    Spark's ``div`` truncates toward zero while DuckDB's ``//`` floors,
    so portability requires shifting first: the per-feature average
    adds ``n_feats * RS_SHIFT`` (RS_SHIFT bounds |lr_q| with 4x margin:
    Laplace-smoothed |log-ratio| < ln of any conceivable corpus mass
    ~ 44e6 micro) before dividing, and the clamp happens in pure
    comparison space (no division after subtraction). svk <= 4e5, so
    the mean's BIGINT sum holds to ~2e13 docs — document-scale safe.

    Scale shape: one corpus-scale DSIR scoring pass (shared builder
    with q121 — the shape argument lives on that docstring), a 1-row
    global mean aggregate broadcast back (allowlisted), then a pure
    per-row map and a final groupBy on |sources| keys. Zero-feature
    docs can't be scored: they surface in n_docs with p = 0 (dropped),
    excluded from the mean."""
    d = _dsir_doc_scores(spark, sf_dir)
    # per-feature average importance in milli-ln units, shifted
    # non-negative before each floor division (see docstring)
    d = d.withColumn("svk", F.expr(
        f"CASE WHEN n_feats > 0 THEN "
        f"((w_q + n_feats * {RS_SHIFT}L) div n_feats) div 1000 END"))
    # TWO consumers (the corpus-mean aggregate and the gating pass):
    # without a persist the scored-doc aggregation + docs join re-run
    # for each (guide §5 multi-consumer rule; doc-scale, 6 columns —
    # bench/oracle own the lifetime via clearCache)
    d = d.persist()
    m = (d.filter(F.col("svk").isNotNull())
         .agg(F.expr("sum(svk) div count(*)").alias("mean_svk")))
    p_pm = (F.when(F.col("svk").isNull(), F.lit(0).cast("long"))
            .otherwise(F.greatest(
                F.lit(0).cast("long"),
                F.least(F.lit(1000).cast("long"),
                        F.col("svk") - F.col("mean_svk")
                        + F.lit(RS_CENTER_PM)))))
    h = hash32(F.concat(F.lit("rs:"), F.col("doc_id").cast("string"))) % 1000
    return (d.crossJoin(F.broadcast(m))
            .withColumn("kept", h < p_pm)
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("kept").cast("long")).alias("n_kept"),
                 F.sum(F.when(F.col("kept"), F.col("n_chars"))
                       .otherwise(F.lit(0).cast("long")))
                 .alias("kept_chars")))


_Q130_SQL = f"""
WITH {_DSIR_CTES},
base AS (
  SELECT d.doc_id, d.source, d.n_chars,
         coalesce(n_feats, 0) AS n_feats, coalesce(w_q, 0) AS w_q
  FROM documents d LEFT JOIN scored USING (doc_id)
),
sv AS (
  SELECT *, CASE WHEN n_feats > 0
                 THEN ((w_q + n_feats * {RS_SHIFT}) // n_feats) // 1000
            END AS svk
  FROM base
),
m AS (
  SELECT CAST(sum(svk) AS BIGINT) // count(*) AS mean_svk
  FROM sv WHERE svk IS NOT NULL
),
p AS (
  SELECT source, n_chars,
         CASE WHEN svk IS NULL THEN 0
              ELSE greatest(0, least(1000,
                            svk - mean_svk + {RS_CENTER_PM})) END AS p_pm,
         {hash32_sql("'rs:' || CAST(doc_id AS VARCHAR)")} % 1000 AS h
  FROM sv CROSS JOIN m
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN h < p_pm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN h < p_pm THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars
FROM p GROUP BY source
"""


# --- q124: n-gram LM perplexity filter ----------------------------------

LM_TRAIN_SOURCES = ("src0", "src1", "src2", "src3")  # "curated" slice
LM_Q = 1_000_000           # micro-unit quantization of per-bigram log-probs
LM_KEEP_Q = -3_450_000     # keep iff avg log-prob >= -3.45 (micro-units)


def q124_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (Wenzek et al. 2020 use a KenLM
    5-gram; this is the same pipeline stage with a Laplace-smoothed
    bigram LM trained on a curated source slice): score every document
    by its average per-bigram log-probability under the reference LM
    and keep the docs above a threshold — the perplexity gate that
    separates fluent text from boilerplate/noise at corpus scale.

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), trained on
    ``LM_TRAIN_SOURCES``; c(w1·) is w1's non-final-position count and V
    the train vocabulary size. Exactness follows the q121 recipe: each
    DISTINCT corpus bigram's log-prob is quantized to integer
    micro-units ONCE, the per-doc total is an exact BIGINT sum of
    (occurrences x lp_q), and ``kept`` is the integer comparison
    ll_q >= n_bigrams * LM_KEEP_Q — no float accumulates across rows,
    so shuffle order cannot flip any output.

    Scale shape: text leaves the tokenizer as per-doc (bigram-hash,
    count) rows — bigram and context strings are 60-bit-fingerprinted
    BELOW the first exchange (the q51/q120 identity trick: both
    engines derive the same digest, so a collision changes both sides
    identically and parity stays exact) and pre-aggregated BEFORE any
    join, so every shuffle and join key is an 8-byte long, never a
    string; LM count tables are map-side-combinable aggs bounded by
    train vocabulary (Heaps' law), joined to the distinct-bigram table
    by plain equi-joins (never a corpus broadcast: at 100 TB the
    bigram table outgrows any broadcast threshold); V is a 1-row
    broadcast."""
    docs = load(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toked = (docs.select("doc_id", "source",
                         textstats.tokens(F.col("text")).alias("tk"))
             .persist())  # feeds the bigram stream and the train vocab
    docbi = (toked.select("doc_id", "source",
                          F.explode(textstats.word_ngrams(F.col("tk"), 2))
                          .alias("g"))
             .select("doc_id", "source",
                     hash60(F.col("g")).alias("gh"),
                     hash60(F.split("g", " ")[0]).alias("w1h"))
             .groupBy("doc_id", "source", "gh", "w1h")
             .agg(F.count(F.lit(1)).alias("cnt"))
             .persist())  # feeds train counts, distinct bigrams, scoring
    train = docbi.filter(F.col("source").isin(*LM_TRAIN_SOURCES))
    c12 = train.groupBy("gh").agg(F.sum("cnt").alias("c12"))
    c1 = train.groupBy("w1h").agg(F.sum("cnt").alias("c1"))
    vocab = (toked.filter(F.col("source").isin(*LM_TRAIN_SOURCES))
             .select(F.explode("tk").alias("w"))
             .agg(F.countDistinct(hash60(F.col("w"))).alias("v")))
    lp = (docbi.select("gh", "w1h").distinct()
          .join(c12, "gh", "left")
          .join(c1, "w1h", "left")
          .crossJoin(F.broadcast(vocab))
          .select("gh", "w1h", F.floor(F.log(
              (F.coalesce("c12", F.lit(0)) + F.lit(1.0))
              / (F.coalesce("c1", F.lit(0)) + F.col("v").cast("double")))
              * LM_Q).cast("long").alias("lp_q")))
    scored = (docbi.join(lp, ["gh", "w1h"])
              .groupBy("doc_id")
              .agg(F.sum("cnt").alias("n_bigrams"),
                   F.sum(F.col("cnt") * F.col("lp_q")).alias("ll_q")))
    n_c = F.coalesce("n_bigrams", F.lit(0).cast("long"))
    out = (docs.select("doc_id", "source")
           .join(scored, "doc_id", "left")
           .select(
               "doc_id", "source", n_c.alias("n_bigrams"),
               F.when(n_c > 0,
                      (F.col("ll_q").cast("double") / F.lit(float(LM_Q)))
                      / F.col("n_bigrams"))
               .otherwise(F.lit(0.0)).alias("avg_logprob"),
               F.when(n_c > 0,
                      F.col("ll_q") >= F.col("n_bigrams") * F.lit(LM_KEEP_Q))
               .otherwise(F.lit(False)).alias("kept")))
    docbi.unpersist()
    toked.unpersist()
    return out


_LM_SRC_LIST = ", ".join(f"'{s}'" for s in LM_TRAIN_SOURCES)

_Q124_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM documents
),
docbi AS MATERIALIZED (
  SELECT doc_id, source,
         {hash60_sql('g')} AS gh,
         {hash60_sql("split_part(g, ' ', 1)")} AS w1h,
         count(*) AS cnt
  FROM (SELECT doc_id, source,
               unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS g
        FROM toks)
  GROUP BY 1, 2, 3, 4
),
train AS MATERIALIZED (
  SELECT gh, w1h, cnt FROM docbi WHERE source IN ({_LM_SRC_LIST})
),
c12 AS (SELECT gh, CAST(sum(cnt) AS BIGINT) AS c12 FROM train GROUP BY gh),
c1 AS (SELECT w1h, CAST(sum(cnt) AS BIGINT) AS c1 FROM train GROUP BY w1h),
vocab AS (
  SELECT CAST(count(DISTINCT {hash60_sql('w')}) AS BIGINT) AS v
  FROM (SELECT unnest(tk) AS w FROM toks
        WHERE source IN ({_LM_SRC_LIST}))
),
lp AS (
  SELECT db.gh, db.w1h,
         CAST(floor(ln((coalesce(c12.c12, 0) + 1.0)
                       / (coalesce(c1.c1, 0) + CAST(v.v AS DOUBLE)))
                    * {LM_Q}) AS BIGINT) AS lp_q
  FROM (SELECT DISTINCT gh, w1h FROM docbi) db
  LEFT JOIN c12 USING (gh)
  LEFT JOIN c1 USING (w1h)
  CROSS JOIN vocab v
),
scored AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         CAST(sum(cnt * lp_q) AS BIGINT) AS ll_q
  FROM docbi JOIN lp USING (gh, w1h) GROUP BY doc_id
)
SELECT d.doc_id, d.source,
       coalesce(n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
       CASE WHEN coalesce(n_bigrams, 0) > 0
            THEN (CAST(ll_q AS DOUBLE) / {LM_Q}.0) / n_bigrams
            ELSE 0.0 END AS avg_logprob,
       CASE WHEN coalesce(n_bigrams, 0) > 0
            THEN ll_q >= n_bigrams * ({LM_KEEP_Q})
            ELSE FALSE END AS kept
FROM documents d LEFT JOIN scored USING (doc_id)
"""


QUERIES: dict[str, Query] = {
    "q67_tfidf_topterms": Query(q67_tfidf_topterms, _Q67_SQL),
    "q68_contamination": Query(q68_contamination, _Q68_SQL),
    "q69_domain_mix_sample": Query(q69_domain_mix_sample, _Q69_SQL),
    "q70_scd2_history": Query(q70_scd2_history, _Q70_SQL),
    "q97_bm25_ranking": Query(q97_bm25_ranking, _Q97_SQL),
    "q101_bigram_novelty": Query(q101_bigram_novelty, _Q101_SQL),
    "q103_scd2_pit_enrichment": Query(q103_scd2_pit_enrichment, _Q103_SQL),
    "q115_bpe_train": Query(q115_bpe_train, _Q115_SQL),
    "q116_trained_quality_scorer": Query(q116_trained_quality_scorer,
                                         _Q116_SQL),
    "q119_bpe_encode": Query(q119_bpe_encode, _Q119_SQL),
    "q121_dsir_weights": Query(q121_dsir_weights, _Q121_SQL),
    "q130_importance_resample": Query(q130_importance_resample, _Q130_SQL),
    "q124_lm_perplexity": Query(q124_lm_perplexity, _Q124_SQL),
}
