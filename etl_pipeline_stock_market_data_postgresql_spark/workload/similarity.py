"""Similarity-search workload over the embeddings table
(beyond-reference): brute-force cosine top-k (exact baseline),
sign-bucketed IVF top-k (scale path), embedding near-dup pairs.
Spark plans in operators/similarity.py; oracle SQL generated from the
same vector-math renderings (functions/vectors.py) so dot products are
evaluated in the same order in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import Query
from ..functions import vectors as vfun
from ..functions.rounding import round_half_up, round_half_up_sql
from ..functions.vectors import cosine_sql, sign_bucket_sql
from ..operators import similarity
from ..sources.tables import load

N_QUERIES = 10      # vec_id < 10 are the query vectors
IVF_BITS = 4
NEARDUP_THRESHOLD = 0.30  # synthetic corpus has no true near-dups; low
                          # threshold keeps the result set non-trivial

_COS = cosine_sql("a.v", "b.v")
# portable half-up rounding (NOT DuckDB ROUND, which is half-even —
# an exact tie at the 7th decimal would flip ranks across engines)
_SIM6 = round_half_up_sql(_COS, 6)
_EMB_D = "(SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"


def q28_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 probing only the query's sign bucket — the
    1/2^bits-of-corpus-per-query ANN scale path — with its recall
    against the exact brute-force top-3 measured in the same result:
    ``in_exact_top3`` marks IVF hits that the exact ranking also
    returns. One vehicle proves both the approximate scale path and
    the exact baseline it is graded against (the baseline was q27
    until r4's registry consolidation)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    ivf = similarity.ivf_topk(queries, emb, "vec_id", "embedding", 3, IVF_BITS)
    exact = (similarity.brute_force_topk(queries, emb, "vec_id", "embedding", 3)
             .select("q_id", "neighbor_id", F.lit(1).alias("in_exact_top3")))
    return (ivf.join(F.broadcast(exact), ["q_id", "neighbor_id"], "left")
            .select("q_id", "neighbor_id", "bucket", "sim", "rank",
                    F.coalesce(F.col("in_exact_top3"), F.lit(0))
                    .alias("in_exact_top3")))


_BUCKET_A = sign_bucket_sql("a.v", IVF_BITS)
_BUCKET_B = sign_bucket_sql("b.v", IVF_BITS)

_Q28_SQL = f"""
WITH ivf AS (
  SELECT * FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, {_BUCKET_A} AS bucket,
           {_SIM6} AS sim,
           CAST(row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_SIM6} DESC, b.vec_id ASC) AS INT) AS rank
    FROM {_EMB_D} a
    JOIN {_EMB_D} b ON {_BUCKET_A} = {_BUCKET_B} AND a.vec_id <> b.vec_id
    WHERE a.vec_id < {N_QUERIES}
  ) WHERE rank <= 3
),
exact AS (
  SELECT * FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_SIM6} DESC, b.vec_id ASC) AS INT) AS rank
    FROM {_EMB_D} a JOIN {_EMB_D} b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {N_QUERIES}
  ) WHERE rank <= 3
)
SELECT i.q_id, i.neighbor_id, i.bucket, i.sim, i.rank,
       CAST(CASE WHEN e.q_id IS NULL THEN 0 ELSE 1 END AS INT) AS in_exact_top3
FROM ivf i LEFT JOIN exact e
  ON i.q_id = e.q_id AND i.neighbor_id = e.neighbor_id
"""


def q29_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above threshold via a
    sign-bucket equi-join (shuffle ∝ corpus, no corpus broadcast, no
    all-pairs product). q28's in_exact_top3 column carries the exact
    recall baseline for this family.

    Scale role: the FIXED 2^IVF_BITS bucket count bounds constants at
    gate SFs but makes candidate pairs Σ|bucket|²/2 ∝ n²/2^bits — this
    query is the family's gate-scale exactness WITNESS (``bench.py``
    skips it on probe-scale dirs), and the corpus-proportional path is
    q111's K ∝ n hierarchical cells (q98's docstring walks the
    argument)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs(emb, "vec_id", "embedding",
                                    NEARDUP_THRESHOLD, n_bits=IVF_BITS)


_Q29_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_SIM6} AS sim
FROM {_EMB_D} a
JOIN {_EMB_D} b ON {_BUCKET_A} = {_BUCKET_B} AND a.vec_id < b.vec_id
WHERE {_SIM6} >= {NEARDUP_THRESHOLD}
"""


def _spread_vectors(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(id, v) vectors repartitioned to full parallelism — the
    embeddings parquet is a single row-group, so without the spread the
    broadcast-K argmin / Lloyd fanout computes on one core."""
    return (emb.select(F.col("vec_id").alias("id"),
                       vfun.as_double(F.col("embedding")).alias("v"))
            .repartition(spark.sparkContext.defaultParallelism, "id"))


# --- q81: k-means iteration (learned IVF partitions) ----------------------

KMEANS_K = 8


def q81_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full distributed Lloyd iteration (operators/kmeans.py) seeded
    from the first K vectors: nearest-centroid assignment (broadcast
    K-fanout, struct-min argmin), integer-space centroid update, and
    per-cluster quantized inertia + centroid-drift — the training step
    behind a learned-partition IVF index (q28's sign buckets are the
    untrained stand-in).

    Every output is an exact integer (quantized folds, see kmeans
    module docstring), so the cross-engine hash match certifies the
    whole iteration: assignments, means, and convergence metrics."""
    from ..operators import kmeans
    emb = load(spark, sf_dir, "embeddings")
    vectors = _spread_vectors(spark, emb)
    centroids = (vectors.filter(F.col("id") < KMEANS_K)
                 .select(F.col("id").alias("cid"), F.col("v").alias("cv")))
    assigned = kmeans.assign(vectors, centroids)
    stats = (assigned.groupBy("cid")
             .agg(F.count("*").alias("n_members"),
                  F.sum(F.floor(F.col("d2") * kmeans.Q_D2).cast("long"))
                  .alias("inertia_q")))
    sums = kmeans.component_sums(assigned)
    # per-component drift term between new mean and old centroid,
    # quantized before the 64-way sum so the sum is exact
    old_comp = centroids.select(
        "cid", F.posexplode("cv").alias("pos", "old_x"))
    new_comp = F.col("s").cast("double") / (F.col("n").cast("double")
                                            * kmeans.Q_COMP)
    diff2 = (new_comp - F.col("old_x")) * (new_comp - F.col("old_x"))
    drift = (sums.join(old_comp, ["cid", "pos"])
             .withColumn("dq", F.floor(diff2 * kmeans.Q_DRIFT).cast("long"))
             .groupBy("cid").agg(F.sum("dq").alias("drift_q")))
    return (centroids.select("cid")
            .join(stats, "cid", "left").join(drift, "cid", "left")
            .select(F.col("cid").alias("cluster_id"),
                    F.coalesce("n_members", F.lit(0).cast("long"))
                    .alias("n_members"),
                    F.coalesce("inertia_q", F.lit(0).cast("long"))
                    .alias("inertia_q"),
                    F.coalesce("drift_q", F.lit(0).cast("long"))
                    .alias("drift_q")))


_SQDIST = ("list_sum(list_transform(range(1, len(e.v) + 1), "
           "i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))")

_Q81_SQL = f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT id AS cid, v AS cv FROM e WHERE id < {KMEANS_K}),
a AS (
  SELECT e.id, min(({_SQDIST}, c.cid)) AS m
  FROM e CROSS JOIN c GROUP BY e.id
),
assigned AS (
  SELECT a.id, m[2] AS cid, m[1] AS d2, e.v
  FROM a JOIN e ON a.id = e.id
),
stats AS (
  SELECT cid, count(*) AS n_members,
         CAST(sum(CAST(floor(d2 * {10**6}) AS BIGINT)) AS BIGINT) AS inertia_q
  FROM assigned GROUP BY cid
),
sums AS (
  SELECT cid, i - 1 AS pos,
         CAST(sum(CAST(floor(v[i] * {10**9}) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
  FROM assigned, unnest(range(1, len(v) + 1)) AS t(i)
  GROUP BY cid, i
),
drift AS (
  SELECT s.cid,
         CAST(sum(CAST(floor(
           (CAST(s.s AS DOUBLE) / (CAST(s.n AS DOUBLE) * {10**9}) - c.cv[s.pos + 1])
           * (CAST(s.s AS DOUBLE) / (CAST(s.n AS DOUBLE) * {10**9}) - c.cv[s.pos + 1])
           * {10**12}) AS BIGINT)) AS BIGINT) AS drift_q
  FROM sums s JOIN c ON s.cid = c.cid
  GROUP BY s.cid
)
SELECT c.cid AS cluster_id,
       CAST(coalesce(n_members, 0) AS BIGINT) AS n_members,
       CAST(coalesce(inertia_q, 0) AS BIGINT) AS inertia_q,
       CAST(coalesce(drift_q, 0) AS BIGINT) AS drift_q
FROM c LEFT JOIN stats USING (cid) LEFT JOIN drift USING (cid)
"""


# --- q82: multi-iteration Lloyd with the convergence trace as data --------

N_LLOYD_ITERS = 3


def q82_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full Lloyd iterations (operators/kmeans.lloyd_trace) seeded
    from the first K vectors; output is the convergence trace itself —
    one row per iteration with the exact quantized inertia. This gates
    the ITERATIVE path q81 proves one step of: assignment → integer-
    space centroid update → reassignment against the rebuilt means,
    with per-round localCheckpoint lineage truncation and no driver
    collect anywhere.

    Both engines rebuild iteration-2/3 centroids as s/(n·10⁹) from
    exact BIGINT component sums, so the doubles entering the next
    assignment are bit-identical and the cross-engine hash certifies
    the whole 3-round recursion, monotone inertia included."""
    from ..operators import kmeans
    emb = load(spark, sf_dir, "embeddings")
    vectors = _spread_vectors(spark, emb)
    centroids = (vectors.filter(F.col("id") < KMEANS_K)
                 .select(F.col("id").alias("cid"), F.col("v").alias("cv")))
    return kmeans.lloyd_trace(vectors, centroids, N_LLOYD_ITERS)


def _lloyd_trace_sql(n_iter: int, k: int) -> str:
    """Unroll the Lloyd recursion into a DuckDB CTE chain — the same
    quantized arithmetic as operators/kmeans.py, iteration by
    iteration (c1 = seed, c{i+1} = integer-sum means over s{i})."""
    from ..operators.kmeans import Q_COMP, Q_D2

    def sq(c: str) -> str:
        return ("list_sum(list_transform(range(1, len(e.v) + 1), "
                f"i -> (e.v[i] - {c}.cv[i]) * (e.v[i] - {c}.cv[i])))")

    ctes = [
        "e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c1 AS (SELECT id AS cid, v AS cv FROM e WHERE id < {k})",
    ]
    for it in range(1, n_iter + 1):
        c = f"c{it}"
        ctes.append(f"""a{it} AS (
  SELECT e.id, min(({sq(c)}, {c}.cid)) AS m
  FROM e CROSS JOIN {c} GROUP BY e.id
)""")
        ctes.append(f"""s{it} AS (
  SELECT a{it}.id, m[2] AS cid, m[1] AS d2, e.v
  FROM a{it} JOIN e ON a{it}.id = e.id
)""")
        ctes.append(f"""t{it} AS (
  SELECT {it} AS iteration,
         CAST(coalesce(sum(CAST(floor(d2 * {Q_D2}) AS BIGINT)), 0) AS BIGINT)
           AS inertia_q,
         count(*) AS n_assigned
  FROM s{it}
)""")
        if it < n_iter:
            ctes.append(f"""m{it} AS (
  SELECT cid, i - 1 AS pos,
         CAST(sum(CAST(floor(v[i] * {Q_COMP}) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
  FROM s{it}, unnest(range(1, len(v) + 1)) AS u(i)
  GROUP BY cid, i
)""")
            ctes.append(f"""r{it} AS (
  SELECT cid,
         list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * {Q_COMP})
              ORDER BY pos) AS cv
  FROM m{it} GROUP BY cid
)""")
            ctes.append(f"""c{it + 1} AS (
  SELECT {c}.cid, coalesce(r{it}.cv, {c}.cv) AS cv
  FROM {c} LEFT JOIN r{it} ON {c}.cid = r{it}.cid
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT iteration, inertia_q, n_assigned FROM t{it}"
        for it in range(1, n_iter + 1))
    return "WITH " + ",\n".join(ctes) + "\n" + union


_Q82_SQL = _lloyd_trace_sql(N_LLOYD_ITERS, KMEANS_K)


# --- q94: learned-IVF ANN (Lloyd centroids feeding the probe) --------------

N_PROBE = 2


def q94_learned_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN with LEARNED cells — q28's probe routed through
    k-means centroids instead of sign buckets, composing the two proven
    components (operators/kmeans assignment+update, operators/
    similarity probe): seed centroids take one exact integer-space
    Lloyd update, every corpus vector is assigned to its nearest
    learned cell, and each query probes its ``N_PROBE`` nearest cells
    for the top-3 — with ``in_exact_top3`` carrying recall against the
    brute-force ranking, directly comparable to q28's sign-bucket
    baseline (``tests/test_similarity_quality.py`` asserts learned ≥
    sign-bucket recall).

    This is the real 100 TB ANN shape (FAISS IVF-Flat): train on a
    sample, assign once (broadcast-K argmin, shuffle ∝ corpus), then
    every query touches ~nprobe/K of the corpus. Cross-engine
    determinism: learned centroid components are rebuilt as
    s/(n·10⁹) from exact BIGINT sums (q82's contract), so the doubles
    entering both engines' assignments are bit-identical and every
    tie breaks on (d2, cid) / (sim, neighbor_id)."""
    from ..operators import kmeans
    emb = load(spark, sf_dir, "embeddings")
    vecs = _spread_vectors(spark, emb)
    seeds = (vecs.filter(F.col("id") < KMEANS_K)
             .select(F.col("id").alias("cid"), F.col("v").alias("cv")))
    assigned = kmeans.assign(vecs, seeds)
    learned = (kmeans.new_centroids(kmeans.component_sums(assigned), seeds)
               .localCheckpoint(eager=True))  # K rows; reused by 2 argmins
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    ivf = similarity.learned_ivf_topk(queries, emb, learned, "vec_id",
                                      "embedding", 3, N_PROBE)
    exact = (similarity.brute_force_topk(queries, emb, "vec_id", "embedding", 3)
             .select("q_id", "neighbor_id", F.lit(1).alias("in_exact_top3")))
    return (ivf.join(F.broadcast(exact), ["q_id", "neighbor_id"], "left")
            .select("q_id", "neighbor_id", "cell", "sim", "rank",
                    F.coalesce(F.col("in_exact_top3"), F.lit(0))
                    .alias("in_exact_top3")))


def _sqd(c: str) -> str:
    return ("list_sum(list_transform(range(1, len(e.v) + 1), "
            f"i -> (e.v[i] - {c}.cv[i]) * (e.v[i] - {c}.cv[i])))")


def _learned_cells_ctes(k_sql: str = str(KMEANS_K)) -> str:
    """Shared oracle prefix (q94/q98): one Lloyd update from the first-K
    seeds (q82's CTE chain) and every corpus vector assigned to its
    nearest LEARNED cell — ends with corpusv(neighbor_id, cell, v).
    ``k_sql`` is the seed-count expression (a literal for q94's fixed
    K; a corpus-proportional scalar subquery for q98)."""
    from ..operators.kmeans import Q_COMP

    sq = _sqd
    return f"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
c1 AS (SELECT id AS cid, v AS cv FROM e WHERE id < {k_sql}),
a1 AS (
  SELECT e.id, min(({sq('c1')}, c1.cid)) AS m
  FROM e CROSS JOIN c1 GROUP BY e.id
),
s1 AS (SELECT a1.id, m[2] AS cid, e.v FROM a1 JOIN e ON a1.id = e.id),
m1 AS (
  SELECT cid, i - 1 AS pos,
         CAST(sum(CAST(floor(v[i] * {Q_COMP}) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
  FROM s1, unnest(range(1, len(v) + 1)) AS u(i)
  GROUP BY cid, i
),
r1 AS (
  SELECT cid, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * {Q_COMP})
                   ORDER BY pos) AS cv
  FROM m1 GROUP BY cid
),
c2 AS (
  SELECT c1.cid, coalesce(r1.cv, c1.cv) AS cv
  FROM c1 LEFT JOIN r1 ON c1.cid = r1.cid
),
cellassign AS (
  SELECT e.id, min(({sq('c2')}, c2.cid)) AS m
  FROM e CROSS JOIN c2 GROUP BY e.id
),
corpusv AS (
  SELECT ca.id AS neighbor_id, ca.m[2] AS cell, e.v
  FROM cellassign ca JOIN e ON ca.id = e.id
)"""


def _q94_sql() -> str:
    """Unrolled oracle: one Lloyd update (q82's CTE chain), cell
    assignment, nprobe-cell probing, ranked probe, exact-top-3 flag."""
    sq = _sqd

    return f"""
WITH {_learned_cells_ctes()},
qp AS (
  SELECT * FROM (
    SELECT e.id AS q_id, c2.cid AS cell, e.v,
           CAST(row_number() OVER (
             PARTITION BY e.id ORDER BY {sq('c2')}, c2.cid) AS INT)
             AS cell_rank
    FROM e CROSS JOIN c2 WHERE e.id < {N_QUERIES}
  ) WHERE cell_rank <= {N_PROBE}
),
ivf AS (
  SELECT * FROM (
    SELECT a.q_id, b.neighbor_id, a.cell, {_SIM6} AS sim,
           CAST(row_number() OVER (
             PARTITION BY a.q_id
             ORDER BY {_SIM6} DESC, b.neighbor_id ASC) AS INT) AS rank
    FROM qp a JOIN corpusv b
      ON a.cell = b.cell AND a.q_id <> b.neighbor_id
  ) WHERE rank <= 3
),
exact AS (
  SELECT * FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_SIM6} DESC, b.vec_id ASC) AS INT) AS rank
    FROM {_EMB_D} a JOIN {_EMB_D} b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {N_QUERIES}
  ) WHERE rank <= 3
)
SELECT i.q_id, i.neighbor_id, i.cell, i.sim, i.rank,
       CAST(CASE WHEN x.q_id IS NULL THEN 0 ELSE 1 END AS INT) AS in_exact_top3
FROM ivf i LEFT JOIN exact x
  ON i.q_id = x.q_id AND i.neighbor_id = x.neighbor_id
"""


# --- q98: semantic dedup (SemDeDup: cluster-blocked cosine dedup) ----------

SEMDEDUP_SIM = 0.40  # ε-ball: the synthetic corpus has no true semantic
                     # dups (within-cell max ≈ 0.51), so the threshold
                     # sits at the ~99.9th percentile of within-cell
                     # similarity to exercise real removals (q29's
                     # low-threshold rationale)
SEMDEDUP_VECS_PER_CELL = 250  # K = max(8, n/250): cells stay task-sized
                              # as the corpus grows (the SemDeDup paper
                              # scales K with the corpus for the same
                              # reason — fixed K makes within-cell pair
                              # counts quadratic in corpus growth;
                              # measured 8.5× at 10× data with K=8 vs
                              # near-flat with K ∝ n)


def q98_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-shaped (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with learned k-means cells
    (q94's one-Lloyd-update centroids), compute cosine similarity ONLY
    within each cell, and drop every vector that sits inside the ε-ball
    of a lower-id vector — keeping one representative per semantic
    group. This is the embedding-space complement of the lexical
    near-dup family (q24/q25/q51): paraphrases and re-renders that
    share no n-grams still collide in embedding space.

    Scale shape — the reason SemDeDup clusters first: pair generation
    is an equi-join on cell id, so candidate count is Σ|cell|²/2, not
    |corpus|²/2, and K scales WITH the corpus (max(8, n/250), derived
    from a broadcast count — the paper uses K≈11k for 100M docs for
    the same reason; BENCH.md measures the 8.5×→3.3× difference at 10×
    data between fixed and proportional K). Assignment is the broadcast-K struct-min
    argmin (shuffle ∝ corpus); the removal set is one distinct on id_b
    + a LEFT join back — no connected components needed, because the
    keep-lowest-id rule resolves every ε-ball in a single pass.
    Determinism: centroids rebuilt from exact BIGINT sums (q82's
    contract), sims rounded half-up to 6dp, ties impossible at the flag
    level (membership is a ≥ on the rounded value both engines share).
    """
    from ..functions.rounding import round_half_up
    from ..operators import kmeans
    emb = load(spark, sf_dir, "embeddings")
    vecs = _spread_vectors(spark, emb)
    # K ∝ corpus (SEMDEDUP_VECS_PER_CELL): the 1-row count broadcasts
    # into the seed filter, so K needs no driver-side collect
    n_row = vecs.agg(F.count("*").alias("n_total"))
    k_col = F.greatest(F.lit(8),
                       F.expr(f"n_total div {SEMDEDUP_VECS_PER_CELL}"))
    seeds = (vecs.crossJoin(F.broadcast(n_row))
             .filter(F.col("id") < k_col)
             .select(F.col("id").alias("cid"), F.col("v").alias("cv")))
    assigned = kmeans.assign(vecs, seeds)
    learned = (kmeans.new_centroids(kmeans.component_sums(assigned), seeds)
               .localCheckpoint(eager=True))  # K rows; reused by argmin
    # THREE consumers below (both pair sides + the verdict join) — an
    # unpersisted cells re-runs the O(n·K) flat argmin per consumer
    # (q113's multi-consumer rule; caller/bench owns lifetime via
    # clearCache)
    cells = (kmeans.assign(vecs, learned)
             .select("id", "v", F.col("cid").alias("cell"),
                     vfun.norm(F.col("v")).alias("nrm")).persist())
    a = cells.select(F.col("id").alias("id_a"), "cell",
                     F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = cells.select(F.col("id").alias("id_b"), "cell",
                     F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    sim6 = round_half_up(
        vfun.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    pairs = (a.join(b, "cell")
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("sim", sim6)
             .filter(F.col("sim") >= SEMDEDUP_SIM))
    removed = (pairs.select(F.col("id_b").alias("id")).distinct()
               .withColumn("removed", F.lit(True)))
    return (cells.join(removed, "id", "left")
            .select(F.col("id").alias("vec_id"), "cell",
                    F.coalesce("removed", F.lit(False)).alias("removed")))


def _q98_sql() -> str:
    sim = round_half_up_sql(cosine_sql("a.v", "b.v"), 6)
    k = f"(SELECT greatest(8, count(*) // {SEMDEDUP_VECS_PER_CELL}) FROM e)"
    return f"""
WITH {_learned_cells_ctes(k)},
pairs AS (
  SELECT a.neighbor_id AS id_a, b.neighbor_id AS id_b
  FROM corpusv a JOIN corpusv b
    ON a.cell = b.cell AND a.neighbor_id < b.neighbor_id
  WHERE {sim} >= {SEMDEDUP_SIM}
),
removed AS (SELECT DISTINCT id_b AS id FROM pairs)
SELECT cv.neighbor_id AS vec_id, cv.cell,
       (r.id IS NOT NULL) AS removed
FROM corpusv cv LEFT JOIN removed r ON cv.neighbor_id = r.id
"""


# --- SemDeDup pair generation with a cell-size skew cap -------------------

SEMDEDUP_SKEW_FACTOR = 4  # a cell under 4x the target size gains nothing
#                           from splitting; above it AND above the p99.9
#                           of the observed size distribution, salt


def _semdedup_removed(cells: DataFrame) -> DataFrame:
    """The SemDeDup removal set — DISTINCT ids that sit inside the
    ε-ball of a lower-id vector in the same cell — with a cell-size
    skew cap (guide §2.5): the within-cell pair join inherits whatever
    size skew the data has, and AQE's skew-join splitting cannot split
    a single giant key. Cells larger than
    ``max(p99.9(cell sizes), SEMDEDUP_SKEW_FACTOR × target)`` route to
    a salted bucket-pair join; every other cell keeps the flat
    ``id_a < id_b`` self-join. At gate scale the salted branch is
    empty (sizes hug the target); under a hot cell it bounds any one
    join task at ~(size/s)² instead of size².

    Equivalence to the flat join (pinned by
    tests/test_similarity.py::test_semdedup_salted_pairs_equivalence):
    members of an oversized cell get a deterministic bucket
    ``b = pmod(xxhash64(id), s)``; side A replicates each member to
    keys (cell, b, j≥b), side B to (cell, i≤b, b), so an unordered
    pair with buckets bx ≤ by meets EXACTLY once on (cell, bx, by)
    when bx < by (arbitrary side order) and exactly twice with both
    orders when bx = by (deduped by ``id_a < id_b``). Cosine sim is
    orientation-symmetric bit-for-bit (component products and the
    norm product commute exactly, same fold order), and the removed
    id is ``greatest(id_a, id_b)`` — so each qualifying unordered
    pair contributes the same removed id the flat join's
    ``id_a < id_b``/``id_b`` rule does."""
    from ..functions.rounding import round_half_up

    sizes = cells.groupBy("cell").agg(F.count("*").alias("_csz"))
    cap = (sizes.agg(F.expr("percentile(_csz, 0.999)").alias("_p999"))
           .select(F.greatest(
               F.col("_p999"),
               F.lit(float(SEMDEDUP_SKEW_FACTOR * SEMDEDUP_VECS_PER_CELL)))
               .alias("_cap")))
    ovr = (sizes.crossJoin(F.broadcast(cap))
           .filter(F.col("_csz") > F.col("_cap"))
           .select("cell",
                   F.ceil(F.col("_csz")
                          / F.lit(SEMDEDUP_VECS_PER_CELL))
                   .cast("int").alias("_s")))

    def _sides(df: DataFrame, tag: str):
        return df.select(F.col("id").alias(f"id_{tag}"), "cell",
                         F.col("v").alias(f"v{tag}"),
                         F.col("nrm").alias(f"n{tag}"))

    sim6 = round_half_up(
        vfun.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)

    flat = cells.join(F.broadcast(ovr.select("cell")), "cell", "left_anti")
    pairs_flat = (_sides(flat, "a").join(_sides(flat, "b"), "cell")
                  .filter(F.col("id_a") < F.col("id_b"))
                  .withColumn("sim", sim6)
                  .filter(F.col("sim") >= SEMDEDUP_SIM)
                  .select(F.col("id_b").alias("id")))

    big = cells.join(F.broadcast(ovr), "cell")
    bucketed = big.withColumn(
        "_b", F.pmod(F.xxhash64("id"), F.col("_s")).cast("int"))
    aside = (bucketed
             .withColumn("_j", F.explode(F.sequence(F.col("_b"),
                                                    F.col("_s") - 1)))
             .select(F.col("id").alias("id_a"), "cell",
                     F.col("v").alias("va"), F.col("nrm").alias("na"),
                     F.col("_b").alias("_i"), "_j"))
    bside = (bucketed
             .withColumn("_i", F.explode(F.sequence(F.lit(0), F.col("_b"))))
             .select(F.col("id").alias("id_b"), "cell",
                     F.col("v").alias("vb"), F.col("nrm").alias("nb"),
                     "_i", F.col("_b").alias("_j")))
    pairs_big = (aside.join(bside, ["cell", "_i", "_j"])
                 .filter((F.col("_i") < F.col("_j"))
                         | (F.col("id_a") < F.col("id_b")))
                 .withColumn("sim", sim6)
                 .filter(F.col("sim") >= SEMDEDUP_SIM)
                 .select(F.greatest("id_a", "id_b").alias("id")))

    return pairs_flat.unionByName(pairs_big).distinct()


# --- q111: hierarchical SemDeDup (IVF-on-IVF coarse quantizer) ------------


def q111_semantic_dedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q98's SemDeDup with BOTH training and assignment routed through
    a hierarchical coarse quantizer (IVF-on-IVF, the FAISS two-level
    shape), making the whole pipeline O(n·√K) where q98 is O(n·K):

    1. G ≈ √K super-centroids: seeded from the first G vectors, one
       exact integer-space Lloyd update over the corpus — O(n·G).
    2. Every vector routes to its nearest super-cell — O(n·G).
    3. C ≈ K/G child seeds per super-cell (the cell's C lowest member
       ids), one Lloyd update restricted to the cell's own members —
       O(n·C) total across cells.
    4. Final assignment: argmin over the routed cell's ~C children —
       O(n·C). Total cells G·C ≈ K, preserving q98's K ∝ n rule.

    The first q111 shape trained the K cells FLAT (q98's trainer) and
    only assigned hierarchically; the 100× decomposition showed that
    left ~97s of the 100s in the O(n·K) training argmin while the
    hierarchical assignment cost 3.8s — so training now descends the
    same hierarchy, which is exactly what FAISS's two-level IVF does.
    Pair generation, the ε-ball rule, and keep-lowest-id removal stay
    byte-identical to q98, which remains registered as the
    flat-assignment exactness witness.

    Determinism (oracle-mirrored end to end): every argmin ties on
    (d2, id) struct-min; centroids rebuild from exact BIGINT component
    sums (q82's contract); child seeds are the C lowest member ids via
    a rank over (gid, id); sims round half-up to 6dp. Every routed
    cell owns ≥1 child by construction (its first member seeds it), so
    no vector can route to a childless cell."""
    from pyspark.sql import Window

    from ..operators import kmeans
    emb = load(spark, sf_dir, "embeddings")
    vecs = _spread_vectors(spark, emb)
    # K ∝ corpus, G ≈ √K supers, C ≈ K/G children per super — all from
    # the broadcast 1-row count, no driver collect
    nk = (vecs.agg(F.count("*").alias("n_total"))
          .withColumn("k", F.greatest(
              F.lit(8), F.expr(f"n_total div {SEMDEDUP_VECS_PER_CELL}")))
          .withColumn("g", F.greatest(
              F.lit(2), F.floor(F.sqrt("k")).cast("long")))
          .withColumn("c", F.greatest(F.lit(2), F.expr("k div g"))))
    gseeds = (vecs.crossJoin(F.broadcast(nk))
              .filter(F.col("id") < F.col("g"))
              .select(F.col("id").alias("cid"), F.col("v").alias("cv")))
    gassigned = kmeans.assign(vecs, gseeds)
    supers = (kmeans.new_centroids(kmeans.component_sums(gassigned), gseeds)
              .localCheckpoint(eager=True))  # G rows
    # route once; checkpoint so seeds/update/fine reuse one O(n·G) pass
    route = (kmeans.assign(vecs, supers)
             .select("id", "v", F.col("cid").alias("gid"))
             .localCheckpoint(eager=True))
    w = Window.partitionBy("gid").orderBy("id")
    cseeds = (route.withColumn("rn", F.row_number().over(w))
              .crossJoin(F.broadcast(nk.select("c")))
              .filter(F.col("rn") <= F.col("c"))
              .select("gid", F.col("id").alias("cid"),
                      F.col("v").alias("cv")))
    # one Lloyd update of each cell's children over the cell's members
    casn = (route.join(F.broadcast(cseeds), "gid")
            .withColumn("d2", kmeans.sqdist(F.col("v"), F.col("cv")))
            .groupBy("id")
            .agg(F.min(F.struct("d2", "cid")).alias("m"),
                 F.first("v").alias("v"))
            .select(F.col("m.cid").alias("cid"), "v"))
    # casn is exactly the (cid, v) shape the kmeans helpers expect, and
    # cseeds carries the per-cell "old" centroids — reuse the operators
    # so the exact-integer contract lives in one place
    upd = kmeans.new_centroids(kmeans.component_sums(casn),
                               cseeds.select("cid", "cv"))
    children = (cseeds.select("gid", "cid").join(upd, "cid")
                .select("gid", "cid", "cv")
                .localCheckpoint(eager=True))  # ≈K rows
    fine = (route.join(F.broadcast(children), "gid")
            .withColumn("d2", kmeans.sqdist(F.col("v"), F.col("cv")))
            .groupBy("id")
            .agg(F.min(F.struct("d2", "cid")).alias("m"),
                 F.first("v").alias("v")))
    # three consumers (both pair sides + the verdict join): persist so
    # the O(n·C) fine assignment runs once, not thrice (q113's rule)
    cells = fine.select("id", "v", F.col("m.cid").alias("cell"),
                        vfun.norm(F.col("v")).alias("nrm")).persist()
    # --- q98's SemDeDup tail, with the cell-size skew cap: oversized
    # cells (> max(p99.9, 4x target)) route to the salted bucket-pair
    # join; the flat id_a < id_b join keeps every normal cell. q98
    # stays on the flat tail as the exactness witness. ---
    removed = (_semdedup_removed(cells)
               .withColumn("removed", F.lit(True)))
    return (cells.join(removed, "id", "left")
            .select(F.col("id").alias("vec_id"), "cell",
                    F.coalesce("removed", F.lit(False)).alias("removed")))


def _hier_cells_ctes() -> str:
    """Oracle prefix for q111, mirroring the fully-hierarchical
    pipeline: super-centroid training (one corpus Lloyd update from the
    first-G seeds), routing, per-cell child seeding (C lowest member
    ids), one member-restricted child Lloyd update, and the fine
    argmin. Ends with corpusv(neighbor_id, cell, v)."""
    from ..operators.kmeans import Q_COMP

    k = f"greatest(8, (SELECT count(*) FROM e) // {SEMDEDUP_VECS_PER_CELL})"
    g = f"greatest(2, CAST(floor(sqrt({k})) AS BIGINT))"
    c = f"greatest(2, {k} // {g})"

    def sq(vec: str, cen: str) -> str:
        return ("list_sum(list_transform(range(1, len({v}) + 1), "
                "i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
                .format(v=vec, c=cen))

    return f"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
gc1 AS (SELECT id AS gid, v AS gv FROM e WHERE id < {g}),
ga1 AS (
  SELECT e.id, min(({sq('e.v', 'gc1.gv')}, gc1.gid)) AS m
  FROM e CROSS JOIN gc1 GROUP BY e.id
),
gs1 AS (SELECT ga1.id, m[2] AS gid, e.v FROM ga1 JOIN e ON ga1.id = e.id),
gm1 AS (
  SELECT gid, i - 1 AS pos,
         CAST(sum(CAST(floor(v[i] * {Q_COMP}) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
  FROM gs1, unnest(range(1, len(v) + 1)) AS u(i)
  GROUP BY gid, i
),
gr1 AS (
  SELECT gid, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * {Q_COMP})
                   ORDER BY pos) AS gv
  FROM gm1 GROUP BY gid
),
gc2 AS (
  SELECT gc1.gid, coalesce(gr1.gv, gc1.gv) AS gv
  FROM gc1 LEFT JOIN gr1 ON gc1.gid = gr1.gid
),
routea AS (
  SELECT e.id, min(({sq('e.v', 'gc2.gv')}, gc2.gid)) AS m
  FROM e CROSS JOIN gc2 GROUP BY e.id
),
route AS (
  SELECT r.id, r.m[2] AS gid, e.v FROM routea r JOIN e ON r.id = e.id
),
cseeds AS (
  SELECT gid, id AS cid, v AS cv FROM (
    SELECT gid, id, v,
           row_number() OVER (PARTITION BY gid ORDER BY id) AS rn
    FROM route
  ) WHERE rn <= {c}
),
casn AS (
  SELECT t.m[2] AS cid, t.v FROM (
    SELECT r.id, min(({sq('r.v', 'cs.cv')}, cs.cid)) AS m, first(r.v) AS v
    FROM route r JOIN cseeds cs ON r.gid = cs.gid
    GROUP BY r.id
  ) AS t
),
csum AS (
  SELECT cid, i - 1 AS pos,
         CAST(sum(CAST(floor(v[i] * {Q_COMP}) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
  FROM casn, unnest(range(1, len(v) + 1)) AS u(i)
  GROUP BY cid, i
),
crebuild AS (
  SELECT cid, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * {Q_COMP})
                   ORDER BY pos) AS cv
  FROM csum GROUP BY cid
),
children AS (
  SELECT cseeds.gid, cseeds.cid, coalesce(crebuild.cv, cseeds.cv) AS cv
  FROM cseeds LEFT JOIN crebuild ON cseeds.cid = crebuild.cid
),
finea AS (
  SELECT r.id, min(({sq('r.v', 'ch.cv')}, ch.cid)) AS m
  FROM route r JOIN children ch ON r.gid = ch.gid
  GROUP BY r.id
),
corpusv AS (
  SELECT f.id AS neighbor_id, f.m[2] AS cell, e.v
  FROM finea f JOIN e ON f.id = e.id
)"""


def _q111_sql() -> str:
    sim = round_half_up_sql(cosine_sql("a.v", "b.v"), 6)
    return f"""
WITH {_hier_cells_ctes()},
pairs AS (
  SELECT a.neighbor_id AS id_a, b.neighbor_id AS id_b
  FROM corpusv a JOIN corpusv b
    ON a.cell = b.cell AND a.neighbor_id < b.neighbor_id
  WHERE {sim} >= {SEMDEDUP_SIM}
),
removed AS (SELECT DISTINCT id_b AS id FROM pairs)
SELECT cv.neighbor_id AS vec_id, cv.cell,
       (r.id IS NOT NULL) AS removed
FROM corpusv cv LEFT JOIN removed r ON cv.neighbor_id = r.id
"""


# --- q113: IVF-PQ with ADC scoring (FAISS IVFPQ shape) --------------------

PQ_M = 16       # sub-spaces (64 dims -> 16 sub-vectors of 4) — the
                # FAISS-canonical D/4 split
PQ_SUB_D = 4
PQ_CODES = 256  # codewords per sub-space: 16 bytes/vector, a 4x memory
                # cut below SQ8 (q109) and 32x below raw doubles
                # (codebook = M*CODES = 4096 rows, still a tiny broadcast)
Q_ADC = 10**6   # LUT / exact-distance quantization (exact BIGINT sums)


def q113_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate nearest neighbor with asymmetric-distance
    (ADC) scoring — the composition of q94's learned IVF cells (which
    bound WHICH vectors a query touches) and product quantization
    (which bounds what each touched vector COSTS): dimensions split
    into M sub-vectors, each sub-space gets its own PQ_CODES-codeword
    codebook (seeded from the first PQ_CODES vectors' sub-vectors, one
    exact integer-space Lloyd update — q82's contract), every corpus
    vector is stored as M byte codes, and a query scores candidates by
    summing M lookup-table entries instead of touching any corpus
    float. This is the memory layout 100 TB ANN deployments actually
    ship (FAISS IVFPQ): 64 doubles (512 B) -> 16 byte codes is a 32×
    compression of the scan payload, and the per-candidate cost drops
    from a D-dim dot product to M integer lookups.

    Scale shape: codebook training and the LUT are tiny broadcasts
    (M·CODES rows; |queries|·M·CODES rows); encoding is a broadcast
    argmin per sub-space (shuffle ∝ corpus, carries one byte-code row
    per (vector, sub-space)); candidate generation reuses the IVF cell
    equi-join (≈ nprobe/K of the corpus per query); ADC scoring is a
    map-side M-row lookup join plus a BIGINT sum — after encoding, the
    QUERY path touches no corpus-sized float data. (The
    ``in_exact_top3`` witness column does: it rescans raw vectors for
    the exact top-3 — gate-scale recall accounting only, dropped in a
    real 100 TB run exactly like q112's exact-percentile witness.)

    Determinism: every argmin ties on (d2, id) struct-min; LUT entries
    and exact distances quantize to floor(d2·10⁶) BIGINT before any
    cross-row sum, so ADC totals and rankings are exact integers in
    both engines; ranks tiebreak on neighbor_id. ``in_exact_top3``
    grades recall against the exact quantized-L2 top-3 (the metric PQ
    approximates), and tests/test_similarity_quality.py pins ADC
    recall ≥ the SQ8-reconstruction baseline on the same probes."""
    from ..operators import kmeans
    from ..operators.similarity import pq_argmin_codes
    emb = load(spark, sf_dir, "embeddings")
    # the vector table fans into six consumers (cells assign ×2, PQ
    # sub-vectors, queries, LUT, exact witness) — without a persist each
    # re-runs the scan + repartition lineage, which multiplied the whole
    # query's cost ~3x at the 10x probe (caller owns cache lifetime;
    # bench/probe clearCache between queries)
    vecs = _spread_vectors(spark, emb).persist()
    # --- IVF cells: q94's one-update learned centroids ---
    seeds = (vecs.filter(F.col("id") < KMEANS_K)
             .select(F.col("id").alias("cid"), F.col("v").alias("cv")))
    assigned = kmeans.assign(vecs, seeds)
    learned = (kmeans.new_centroids(kmeans.component_sums(assigned), seeds)
               .localCheckpoint(eager=True))
    cells = (kmeans.assign(vecs, learned)
             .select("id", F.col("cid").alias("cell")))
    # --- PQ codebooks: per-sub-space one-update Lloyd ---
    mcol = F.explode(F.array(*[F.lit(i) for i in range(PQ_M)])).alias("m")
    # three consumers (codebook train, corpus encode, seed collect);
    # the explode+slice pipeline runs once into cache
    sub = (vecs.select("id", "v", mcol)
           .withColumn("sv",
                       F.expr(f"slice(v, m * {PQ_SUB_D} + 1, {PQ_SUB_D})"))
           .drop("v")
           .persist())
    cb_seeds = (sub.filter(F.col("id") < PQ_CODES)
                .select("m", F.col("id").alias("code"),
                        F.col("sv").alias("cv")))

    def argmin_code(codewords: DataFrame) -> DataFrame:
        """(id, m, code, sv): nearest codeword per sub-vector — the
        Arrow-vectorized numpy kernel (operators.similarity.
        pq_argmin_codes), bit-identical to the former JVM
        transform+array_min shape (same left-to-right d2 fold, same
        (d2, code) tie rule) but allocation-free in the inner loop;
        the JVM shape allocated |rows|·M·CODES short-lived structs and
        dominated the probe-scale cost."""
        return pq_argmin_codes(sub, codewords, PQ_SUB_D)

    asn0 = argmin_code(cb_seeds)
    comp = asn0.select("m", "code", F.posexplode("sv").alias("pos", "x"))
    sums = (comp.groupBy("m", "code", "pos")
            .agg(F.sum(F.floor(F.col("x") * kmeans.Q_COMP).cast("long"))
                 .alias("s"),
                 F.count("*").alias("n")))
    c = F.col("s").cast("double") / (F.col("n").cast("double")
                                     * kmeans.Q_COMP)
    rebuilt = (sums.withColumn("c", c)
               .groupBy("m", "code")
               .agg(F.array_sort(F.collect_list(F.struct("pos", "c")))
                    .alias("a"))
               .select("m", "code",
                       F.transform("a", lambda x: x["c"]).alias("cv")))
    codebook = (cb_seeds.select("m", "code", F.col("cv").alias("cv_old"))
                .join(rebuilt, ["m", "code"], "left")
                .select("m", "code", F.coalesce("cv", "cv_old").alias("cv"))
                .localCheckpoint(eager=True))  # M*CODES rows, reused 3x
    # --- encode the corpus against the updated codebooks ---
    codes = argmin_code(codebook).drop("sv")
    # --- query side: probe cells + ADC lookup table ---
    queries = vecs.filter(F.col("id") < N_QUERIES)
    from pyspark.sql import Window
    qc = (queries.crossJoin(F.broadcast(learned))
          .withColumn("d2", kmeans.sqdist(F.col("v"), F.col("cv"))))
    wq = Window.partitionBy("id").orderBy("d2", "cid")
    probed = (qc.withColumn("r", F.row_number().over(wq))
              .filter(F.col("r") <= N_PROBE)
              .select(F.col("id").alias("q_id"), F.col("cid").alias("cell")))
    qsub = (queries.select("id", "v", mcol)
            .withColumn("qsv",
                        F.expr(f"slice(v, m * {PQ_SUB_D} + 1, {PQ_SUB_D})"))
            .drop("v"))
    lut = (qsub.join(F.broadcast(codebook), "m")
           .select(F.col("id").alias("q_id"), "m", "code",
                   F.floor(kmeans.sqdist(F.col("qsv"), F.col("cv")) * Q_ADC)
                   .cast("long").alias("d2q")))
    # --- candidates from probed cells, scored by M LUT lookups ---
    cand = (probed.join(cells, "cell")
            .filter(F.col("q_id") != F.col("id"))
            .select("q_id", F.col("id").alias("neighbor_id"), "cell"))
    adc = (cand.join(codes, cand.neighbor_id == codes.id)
           .join(F.broadcast(lut), ["q_id", "m", "code"])
           .groupBy("q_id", "neighbor_id", "cell")
           .agg(F.sum("d2q").alias("adc_q")))
    wr = Window.partitionBy("q_id").orderBy("adc_q", "neighbor_id")
    ranked = (adc.withColumn("rank", F.row_number().over(wr).cast("int"))
              .filter(F.col("rank") <= 3))
    # --- exact quantized-L2 top-3 (the metric PQ approximates) ---
    ex = (queries.select(F.col("id").alias("q_id"), F.col("v").alias("qv"))
          .join(vecs.select(F.col("id").alias("neighbor_id"), "v"),
                F.col("q_id") != F.col("neighbor_id"))
          .select("q_id", "neighbor_id",
                  F.floor(kmeans.sqdist(F.col("qv"), F.col("v")) * Q_ADC)
                  .cast("long").alias("d2e")))
    we = Window.partitionBy("q_id").orderBy("d2e", "neighbor_id")
    exact = (ex.withColumn("r", F.row_number().over(we))
             .filter(F.col("r") <= 3)
             .select("q_id", "neighbor_id", F.lit(1).alias("in_exact_top3")))
    return (ranked.join(F.broadcast(exact), ["q_id", "neighbor_id"], "left")
            .select("q_id", "neighbor_id", "cell", "adc_q", "rank",
                    F.coalesce(F.col("in_exact_top3"), F.lit(0))
                    .alias("in_exact_top3")))


def _q113_sql() -> str:
    from ..operators.kmeans import Q_COMP

    sq = _sqd

    def sqv(a: str, b: str) -> str:
        return ("list_sum(list_transform(range(1, len({a}) + 1), "
                "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
                .format(a=a, b=b))

    sub_expr = f"list_slice(v, m * {PQ_SUB_D} + 1, (m + 1) * {PQ_SUB_D})"
    return f"""
WITH {_learned_cells_ctes()},
qp AS (
  SELECT * FROM (
    SELECT e.id AS q_id, c2.cid AS cell,
           CAST(row_number() OVER (
             PARTITION BY e.id ORDER BY {sq('c2')}, c2.cid) AS INT)
             AS cell_rank
    FROM e CROSS JOIN c2 WHERE e.id < {N_QUERIES}
  ) WHERE cell_rank <= {N_PROBE}
),
sub AS (
  SELECT id, CAST(u.m AS INT) AS m, {sub_expr} AS sv
  FROM e, unnest(range(0, {PQ_M})) AS u(m)
),
cbseed AS (
  SELECT m, id AS code, sv AS cv FROM sub WHERE id < {PQ_CODES}
),
asn0 AS (
  SELECT t.id, t.m, t.mm[2] AS code FROM (
    SELECT sub.id, sub.m, min(({sqv('sub.sv', 'cbseed.cv')}, cbseed.code))
           AS mm
    FROM sub JOIN cbseed ON sub.m = cbseed.m
    GROUP BY sub.id, sub.m
  ) AS t
),
csum AS (
  SELECT a.m, a.code, i - 1 AS pos,
         CAST(sum(CAST(floor(s.sv[i] * {Q_COMP}) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
  FROM asn0 a JOIN sub s ON a.id = s.id AND a.m = s.m,
       unnest(range(1, len(s.sv) + 1)) AS u(i)
  GROUP BY a.m, a.code, i
),
crebuild AS (
  SELECT m, code, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * {Q_COMP})
                       ORDER BY pos) AS cv
  FROM csum GROUP BY m, code
),
codebook AS (
  SELECT cbseed.m, cbseed.code, coalesce(crebuild.cv, cbseed.cv) AS cv
  FROM cbseed LEFT JOIN crebuild
    ON cbseed.m = crebuild.m AND cbseed.code = crebuild.code
),
codes AS (
  SELECT t.id, t.m, t.mm[2] AS code FROM (
    SELECT sub.id, sub.m, min(({sqv('sub.sv', 'codebook.cv')},
                               codebook.code)) AS mm
    FROM sub JOIN codebook ON sub.m = codebook.m
    GROUP BY sub.id, sub.m
  ) AS t
),
lut AS (
  SELECT s.id AS q_id, s.m, cb.code,
         CAST(floor({sqv('s.sv', 'cb.cv')} * {Q_ADC}) AS BIGINT) AS d2q
  FROM sub s JOIN codebook cb ON s.m = cb.m
  WHERE s.id < {N_QUERIES}
),
cand AS (
  SELECT qp.q_id, cv.neighbor_id, cv.cell
  FROM qp JOIN corpusv cv ON qp.cell = cv.cell
  WHERE qp.q_id <> cv.neighbor_id
),
adc AS (
  SELECT c.q_id, c.neighbor_id, c.cell,
         CAST(sum(l.d2q) AS BIGINT) AS adc_q
  FROM cand c
  JOIN codes k ON c.neighbor_id = k.id
  JOIN lut l ON l.q_id = c.q_id AND l.m = k.m AND l.code = k.code
  GROUP BY c.q_id, c.neighbor_id, c.cell
),
ranked AS (
  SELECT * FROM (
    SELECT q_id, neighbor_id, cell, adc_q,
           CAST(row_number() OVER (
             PARTITION BY q_id ORDER BY adc_q, neighbor_id) AS INT) AS rank
    FROM adc
  ) WHERE rank <= 3
),
exact AS (
  SELECT * FROM (
    SELECT a.id AS q_id, b.id AS neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY a.id
             ORDER BY CAST(floor({sqv('a.v', 'b.v')} * {Q_ADC}) AS BIGINT),
                      b.id) AS INT) AS r
    FROM e a JOIN e b ON a.id <> b.id
    WHERE a.id < {N_QUERIES}
  ) WHERE r <= 3
)
SELECT r.q_id, r.neighbor_id, r.cell, r.adc_q, r.rank,
       CAST(CASE WHEN x.q_id IS NULL THEN 0 ELSE 1 END AS INT)
         AS in_exact_top3
FROM ranked r LEFT JOIN exact x
  ON r.q_id = x.q_id AND r.neighbor_id = x.neighbor_id
"""


# --- q134/q137: incremental ANN index maintenance -------------------------


def _emb_vec_max(spark: SparkSession, sf_dir: str) -> int:
    """max(vec_id) of the embeddings table — the split point every ANN
    fixture in this module derives its batch boundaries from. A
    bounds-only fixture (``derived_cache.fixture``): the value is
    fixture metadata (it only shapes WHERE the cached fixtures split),
    it is re-derived whenever the embeddings files change, and at
    100 TB the per-run max() it replaces is a full-column scan."""
    from ..sources.derived_cache import fixture, table_fingerprint

    def build(_root: str) -> dict:
        return {"mx": load(spark, sf_dir, "embeddings")
                .agg(F.max("vec_id")).first()[0]}

    return fixture(sf_dir, "emb_vec_max", table_fingerprint(
        sf_dir, ("embeddings",), params="vec_max_v1"), build)[1]["mx"]


def _ivfpq_model_fp(sf_dir: str, b: int) -> str:
    """Fingerprint of the frozen base-corpus IVF-PQ model (embeddings
    state + every training parameter) — shared by q134 and q137 so the
    two queries reuse ONE materialized model per input state."""
    from ..sources.derived_cache import table_fingerprint
    return table_fingerprint(
        sf_dir, ("embeddings",),
        params=f"ivfpq_idx_v1_K{KMEANS_K}_M{PQ_M}_C{PQ_CODES}_b{b}")


def _ivfpq_subvecs(df: DataFrame) -> DataFrame:
    """(id, m, sv): every vector split into PQ_M contiguous sub-vectors."""
    mcol = F.explode(F.array(*[F.lit(i) for i in range(PQ_M)])).alias("m")
    return (df.select("id", "v", mcol)
            .withColumn("sv", F.expr(
                f"slice(v, m * {PQ_SUB_D} + 1, {PQ_SUB_D})"))
            .drop("v"))


def _ivfpq_encode(vec_df: DataFrame, centroids: DataFrame,
                  codebook: DataFrame) -> DataFrame:
    """FROZEN-model encode: assign each vector to its IVF cell
    (broadcast-K argmin) and PQ-encode its sub-vectors (Arrow-batched
    codebook argmin) — (id, m, code, cell), M rows per vector. Pure
    per-vector function of the model: this is what makes incremental
    maintenance ≡ full re-encode (the q120 equivalence shape)."""
    from ..operators import kmeans
    from ..operators.similarity import pq_argmin_codes
    cells = (kmeans.assign(vec_df, centroids)
             .select("id", F.col("cid").alias("cell")))
    codes = (pq_argmin_codes(_ivfpq_subvecs(vec_df), codebook, PQ_SUB_D)
             .select("id", "m", "code"))
    # id-keyed fact-fact join: merge hint for the same static-
    # misestimate reason as the graph queries
    return codes.join(cells.hint("merge"), "id")


def _ivfpq_base_index(spark: SparkSession, sf_dir: str, vecs: DataFrame,
                      b: int, tag: str = ""
                      ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(centroids, codebook, postings) for vectors with id <= b,
    each materialized once per embeddings state through the
    fingerprint-invalidated derived-table cache. Training: q94's
    one-update Lloyd for the IVF centroids, q113's per-sub-space
    codebook rebuild — both over the id <= b corpus only. ``tag``
    suffixes the cache directory names so a SECOND model over the same
    embeddings (q145's retrained full-corpus model, b = max id) gets
    its own cache instead of thrashing the frozen base model's — the
    two models coexist per input state."""
    import os

    from ..operators import kmeans
    from ..operators.similarity import pq_argmin_codes
    from ..sources.derived_cache import cached_parquet, scratch_base

    scratch, _ = scratch_base(sf_dir)
    fp = _ivfpq_model_fp(sf_dir, b)
    base_vecs = vecs.filter(F.col("id") <= b)

    def build_centroids() -> DataFrame:
        seeds = (base_vecs.filter(F.col("id") < KMEANS_K)
                 .select(F.col("id").alias("cid"), F.col("v").alias("cv")))
        assigned = kmeans.assign(base_vecs, seeds)
        return kmeans.new_centroids(kmeans.component_sums(assigned), seeds)

    centroids = cached_parquet(
        spark, os.path.join(scratch, f"ann_centroids{tag}"), fp,
        build_centroids)

    caches: list[DataFrame] = []

    def build_codebook() -> DataFrame:
        sub_b = _ivfpq_subvecs(base_vecs).persist()  # 2 consumers
        caches.append(sub_b)
        cb_seeds = (sub_b.filter(F.col("id") < PQ_CODES)
                    .select("m", F.col("id").alias("code"),
                            F.col("sv").alias("cv")))
        asn0 = pq_argmin_codes(sub_b, cb_seeds, PQ_SUB_D)
        comp = asn0.select("m", "code", F.posexplode("sv").alias("pos", "x"))
        sums = (comp.groupBy("m", "code", "pos")
                .agg(F.sum(F.floor(F.col("x") * kmeans.Q_COMP).cast("long"))
                     .alias("s"),
                     F.count("*").alias("n")))
        c = F.col("s").cast("double") / (F.col("n").cast("double")
                                         * kmeans.Q_COMP)
        rebuilt = (sums.withColumn("c", c)
                   .groupBy("m", "code")
                   .agg(F.array_sort(F.collect_list(F.struct("pos", "c")))
                        .alias("a"))
                   .select("m", "code",
                           F.transform("a", lambda x: x["c"]).alias("cv")))
        return (cb_seeds.select("m", "code", F.col("cv").alias("cv_old"))
                .join(rebuilt, ["m", "code"], "left")
                .select("m", "code", F.coalesce("cv", "cv_old").alias("cv")))

    codebook = cached_parquet(
        spark, os.path.join(scratch, f"ann_codebook{tag}"), fp,
        build_codebook)

    postings = cached_parquet(
        spark, os.path.join(scratch, f"ann_postings{tag}"), fp,
        lambda: _ivfpq_encode(base_vecs, centroids, codebook))
    for cdf in caches:
        cdf.unpersist()
    return centroids, codebook, postings


def q134_incremental_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ index maintenance — q120's persisted-state
    pattern applied to the ANN side (the r9 verdict's gap: the dedup
    path dedups deltas against a stored index, but q113 re-trains and
    re-encodes the whole corpus per run). The persisted state is the
    full FAISS-style index for the BASE corpus (first 2/3 of vectors by
    id), materialized once per input state through the derived-table
    cache (sources/derived_cache): learned IVF centroids (q94's
    one-update Lloyd, trained on base), per-sub-space PQ codebooks
    (q113's train, over base), and the postings table (id, cell, m,
    code — M bytes of codes per vector, the layout 100 TB ANN
    deployments ship). A new ingest batch (the last 1/3) is then
    assigned and encoded against the FROZEN model — centroids and
    codebooks are never retrained, base vectors are never touched — and
    the result is the updated index's postings histogram per (cell, m):
    base/delta vector counts plus exact integer code checksums
    (Σcode, Σcode²), which certify every vector's cell routing AND its
    M byte codes in both engines.

    Correctness anchor (the q120 equivalence shape): encoding is
    per-vector given the model, and the model is a pure function of the
    base corpus — so incremental-encode(delta) ∪ stored-postings(base)
    is row-identical to the oracle's full re-encode of corpus ∪ delta
    with base-trained parameters. Frozen-model maintenance is also what
    production vector stores do between periodic re-trains (FAISS
    add()); drift is handled by rebuilding, which here is exactly a
    cache invalidation (embeddings change -> fingerprint moves).

    Scale shape: steady-state cost ∝ delta (broadcast-K argmin for
    cells, Arrow-batched codebook argmin for codes — the q113 kernel);
    the base side is one columnar scan of the compact postings parquet
    (cell/m/code longs, no vectors). The summary groupBy carries
    ≤ K·M·|codes| bounded rows. Only the first run after an embeddings
    change pays the base train+encode. The companion q137 APPENDS the
    delta postings to a stored index table (write-back + compaction);
    this query measures the per-run frozen-model delta-encode rate."""
    emb = load(spark, sf_dir, "embeddings")
    max_id = _emb_vec_max(spark, sf_dir)
    b = (2 * max_id) // 3

    # multi-consumer (base build on a cold cache + delta assign/encode);
    # q113's convention: caller owns cache lifetime — bench/probe
    # clearCache between queries
    vecs = _spread_vectors(spark, emb).persist()
    centroids, codebook, postings = _ivfpq_base_index(
        spark, sf_dir, vecs, b)

    # --- the incremental path: frozen-model encode of the delta only ---
    post_d = _ivfpq_encode(vecs.filter(F.col("id") > b),
                           centroids, codebook)

    allp = (postings.select("cell", "m", "code",
                            F.lit(0).alias("is_delta"))
            .unionByName(post_d.select("cell", "m", "code",
                                       F.lit(1).alias("is_delta"))))
    return (allp.groupBy("cell", "m")
            .agg(F.count(F.when(F.col("is_delta") == 0, 1)).alias("n_base"),
                 F.count(F.when(F.col("is_delta") == 1, 1)).alias("n_delta"),
                 F.sum("code").alias("code_sum"),
                 F.sum(F.col("code") * F.col("code")).alias("code_sq_sum")))


def _ivfpq_full_encode_ctes(
        train_pred: str = "id <= (SELECT b FROM bnd)") -> str:
    """The shared DuckDB WITH body for the q134/q137-family oracles:
    full re-encode of the whole corpus with parameters trained on the
    rows matching ``train_pred`` (default: the frozen BASE model),
    ending in ``post`` (cell, m, code, id) — equal to incremental
    maintenance because encoding is a pure per-vector function of the
    frozen model (q134 docstring). ``bnd`` carries both the base
    boundary ``b`` and ``mx`` (max id) so q137 can derive its second
    batch boundary. q145's retrain-cutover oracle passes
    ``train_pred="TRUE"`` to train on the WHOLE corpus — the retrained
    model — with everything downstream unchanged."""
    from ..operators.kmeans import Q_COMP

    def sqv(a: str, b: str) -> str:
        return ("list_sum(list_transform(range(1, len({a}) + 1), "
                "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
                .format(a=a, b=b))

    sub_expr = f"list_slice(v, m * {PQ_SUB_D} + 1, (m + 1) * {PQ_SUB_D})"
    return f"""
e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
bnd AS (SELECT 2 * max(id) // 3 AS b, max(id) AS mx FROM e),
bse AS MATERIALIZED (SELECT id, v FROM e WHERE {train_pred}),
c1 AS (SELECT id AS cid, v AS cv FROM bse WHERE id < {KMEANS_K}),
a1 AS (
  SELECT bse.id, min(({sqv('bse.v', 'c1.cv')}, c1.cid)) AS mm
  FROM bse CROSS JOIN c1 GROUP BY bse.id
),
s1 AS (SELECT a1.id, mm[2] AS cid, bse.v FROM a1 JOIN bse ON a1.id = bse.id),
m1 AS (
  SELECT cid, i - 1 AS pos,
         CAST(sum(CAST(floor(v[i] * {Q_COMP}) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
  FROM s1, unnest(range(1, len(v) + 1)) AS u(i)
  GROUP BY cid, i
),
r1 AS (
  SELECT cid, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * {Q_COMP})
                   ORDER BY pos) AS cv
  FROM m1 GROUP BY cid
),
c2 AS MATERIALIZED (
  SELECT c1.cid, coalesce(r1.cv, c1.cv) AS cv
  FROM c1 LEFT JOIN r1 ON c1.cid = r1.cid
),
subb AS MATERIALIZED (
  SELECT id, CAST(u.m AS INT) AS m, {sub_expr} AS sv
  FROM bse, unnest(range(0, {PQ_M})) AS u(m)
),
cbseed AS MATERIALIZED (
  SELECT m, id AS code, sv AS cv FROM subb WHERE id < {PQ_CODES}
),
asn0 AS (
  SELECT t.id, t.m, t.mm[2] AS code FROM (
    SELECT subb.id, subb.m, min(({sqv('subb.sv', 'cbseed.cv')},
                                 cbseed.code)) AS mm
    FROM subb JOIN cbseed ON subb.m = cbseed.m
    GROUP BY subb.id, subb.m
  ) AS t
),
csum AS (
  SELECT a.m, a.code, i - 1 AS pos,
         CAST(sum(CAST(floor(s.sv[i] * {Q_COMP}) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
  FROM asn0 a JOIN subb s ON a.id = s.id AND a.m = s.m,
       unnest(range(1, len(s.sv) + 1)) AS u(i)
  GROUP BY a.m, a.code, i
),
crebuild AS (
  SELECT m, code, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * {Q_COMP})
                       ORDER BY pos) AS cv
  FROM csum GROUP BY m, code
),
codebook AS MATERIALIZED (
  SELECT cbseed.m, cbseed.code, coalesce(crebuild.cv, cbseed.cv) AS cv
  FROM cbseed LEFT JOIN crebuild
    ON cbseed.m = crebuild.m AND cbseed.code = crebuild.code
),
suba AS MATERIALIZED (
  SELECT id, CAST(u.m AS INT) AS m, {sub_expr} AS sv
  FROM e, unnest(range(0, {PQ_M})) AS u(m)
),
codes AS (
  SELECT t.id, t.m, t.mm[2] AS code FROM (
    SELECT suba.id, suba.m, min(({sqv('suba.sv', 'codebook.cv')},
                                 codebook.code)) AS mm
    FROM suba JOIN codebook ON suba.m = codebook.m
    GROUP BY suba.id, suba.m
  ) AS t
),
cells AS (
  SELECT e.id, min(({sqv('e.v', 'c2.cv')}, c2.cid)) AS mm
  FROM e CROSS JOIN c2 GROUP BY e.id
),
post AS (
  SELECT cl.mm[2] AS cell, k.m, k.code, k.id
  FROM codes k JOIN cells cl ON k.id = cl.id
)"""


def _q134_sql() -> str:
    return f"""
WITH {_ivfpq_full_encode_ctes()}
SELECT cell, m,
       CAST(count(CASE WHEN id <= (SELECT b FROM bnd) THEN 1 END)
            AS BIGINT) AS n_base,
       CAST(count(CASE WHEN id > (SELECT b FROM bnd) THEN 1 END)
            AS BIGINT) AS n_delta,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(code * code) AS BIGINT) AS code_sq_sum
FROM post GROUP BY cell, m
"""


#: compaction contract for the q137 postings store (bytes per file per
#: cell partition) — small enough that the gate-SF chain (base + two
#: appends) actually violates it and the compaction pass runs for real
ANN_STORE_TARGET_BYTES = 32 * 1024 * 1024


def _ann_store_materialized(spark: SparkSession,
                            sf_dir: str) -> tuple[str, int, int]:
    """The committed cell-partitioned postings store shared by q137
    (state certification) and q138 (serving read): base postings +
    two HWM-driven frozen-model appends + the bin-packing compaction
    pass, all fingerprint-gated so re-runs are idempotent and a crash
    before the fingerprint lands rebuilds from the base. Returns
    ``(store_path, base_boundary, second_batch_boundary)``."""
    from ..sources.compaction import compact_partitioned
    from ..sources.derived_cache import fixture

    max_id = _emb_vec_max(spark, sf_dir)
    b = (2 * max_id) // 3
    b2 = b + (max_id - b + 1) // 2  # second batch boundary (arrival split)

    def build(store: str) -> None:
        # multi-consumer on the cold path (base build + two encodes);
        # q113's convention: caller owns cache lifetime
        vecs = _spread_vectors(spark, load(spark, sf_dir, "embeddings")
                               ).persist()
        centroids, codebook, postings = _ivfpq_base_index(
            spark, sf_dir, vecs, b)
        (postings.select("id", "m", "code", "cell")
         .write.partitionBy("cell").parquet(store))
        for bound in (b2, None):
            hwm = spark.read.parquet(store).agg(F.max("id")).first()[0]
            batch = vecs.filter(F.col("id") > hwm)
            if bound is not None:
                batch = batch.filter(F.col("id") <= bound)
            (_ivfpq_encode(batch, centroids, codebook)
             .select("id", "m", "code", "cell")
             .write.mode("append").partitionBy("cell").parquet(store))
        compact_partitioned(spark, store, "cell", "id",
                            ANN_STORE_TARGET_BYTES)

    store = fixture(sf_dir, "ann_store", _ann_store_fp(sf_dir, b, b2),
                    build)[0]
    return store, b, b2


def _ann_store_fp(sf_dir: str, b: int, b2: int) -> str:
    return _ivfpq_model_fp(sf_dir, b) + f"_chain_v1_b2{b2}"


def q137_ann_index_writeback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION half of q134: commit the incremental ANN updates
    to the stored index instead of only histogramming them. The
    postings store is a cell-partitioned parquet table (the layout that
    makes cell-routed probes partition-pruned scans); maintenance is
    the reference's high-water-mark incremental load (A1/F2,
    SURVEY §2.9) applied to the vector index — two ingest batches
    arrive, and each one (a) reads MAX(id) from the STORE itself as its
    high-water mark, (b) frozen-model encodes only ids above it
    (:func:`_ivfpq_encode`, never retraining, never touching base
    vectors), and (c) appends the new postings. Appends accrete small
    files, so the chain ends with the q118 maintenance pass
    (sources/compaction.compact_partitioned) over the store — layout
    changes, content never does. The whole chain is fingerprint-gated
    (embeddings state + model params): re-runs are idempotent reads of
    the committed store, crashes before the fingerprint lands rebuild
    from the base.

    The gated output reads ONLY the store: per (cell, m) counts split
    by batch provenance plus exact integer code- and id-checksums. The
    oracle re-encodes the whole corpus from scratch with base-trained
    parameters (shared CTE body with q134), so a green row certifies
    the store's full content — base ∪ append#1 ∪ append#2, encoded
    against the frozen model, surviving two HWM increments AND the
    compaction rewrite (induction: batch 2 was encoded against the
    store as left by batch 1).

    Scale shape: steady state per batch is cost ∝ delta (q134's
    argmin kernels) + one metadata HWM read; compaction work ∝ the
    small-file backlog per offending cell partition, not table size.
    q134 measures the per-run delta-encode rate; this query certifies
    the committed state (warm runs are one pruned columnar scan of the
    store — the read path a deployed index serves probes from)."""
    store, b, b2 = _ann_store_materialized(spark, sf_dir)
    st = spark.read.parquet(store)
    return (st.groupBy(F.col("cell").cast("long").alias("cell"), "m")
            .agg(F.count(F.when(F.col("id") <= b, 1)).alias("n_base"),
                 F.count(F.when((F.col("id") > b) & (F.col("id") <= b2), 1))
                 .alias("n_delta1"),
                 F.count(F.when(F.col("id") > b2, 1)).alias("n_delta2"),
                 F.sum("code").alias("code_sum"),
                 F.sum(F.col("code") * F.col("code")).alias("code_sq_sum"),
                 F.sum("id").alias("id_sum")))


def _q137_sql() -> str:
    b2 = "(SELECT b + (mx - b + 1) // 2 FROM bnd)"
    return f"""
WITH {_ivfpq_full_encode_ctes()}
SELECT cell, m,
       CAST(count(CASE WHEN id <= (SELECT b FROM bnd) THEN 1 END)
            AS BIGINT) AS n_base,
       CAST(count(CASE WHEN id > (SELECT b FROM bnd)
                        AND id <= {b2} THEN 1 END) AS BIGINT) AS n_delta1,
       CAST(count(CASE WHEN id > {b2} THEN 1 END) AS BIGINT) AS n_delta2,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(code * code) AS BIGINT) AS code_sq_sum,
       CAST(sum(id) AS BIGINT) AS id_sum
FROM post GROUP BY cell, m
"""


ANN_TOPK = 3  # neighbors returned per probe query


def q138_ann_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING read against the committed postings store — what the
    whole q134/q137 maintenance chain exists to make cheap: IVF-PQ ADC
    top-k (q113's scoring) answered FROM the cell-partitioned store
    with PARTITION PRUNING doing the candidate bounding. Each query
    ranks the frozen centroids exactly, keeps its N_PROBE nearest
    cells, and the probed cell set (≤ min(K, |queries|·nprobe), a
    driver-side bounded collect) is pushed into the store scan as a
    partition filter — the scan never opens the other cells'
    directories, which at 100 TB is the difference between reading
    nprobe/K of the index and reading all of it. Candidates are scored
    by M broadcast-LUT lookups per vector (no corpus float is ever
    touched on the query path; the store carries only byte codes).

    The oracle re-derives the postings via the shared full-encode body
    (frozen base-trained model) and runs the same probe/LUT/rank
    pipeline in SQL, so a green row certifies the served neighbors —
    including that the store content the pruned scan actually read
    (base ∪ two appends, post-compaction) is the right index state.

    Scale shape: centroid ranking is |queries|×K broadcast rows; the
    LUT is |queries|·M·CODES broadcast rows; the pruned scan reads only
    probed cell partitions; scoring is one map-side lookup join +
    a (q_id, neighbor) aggregate bounded by the probed postings;
    output is |queries|·k rows. Determinism: exact-integer ADC sums,
    rank ties on neighbor_id, probe ties on (d2, cid) — the q113
    contract."""
    from pyspark.sql import Window

    from ..operators import kmeans

    store, b, _b2 = _ann_store_materialized(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    # multi-consumer (queries + cold-path model build); q113's
    # convention: caller owns cache lifetime — bench/probe clearCache
    vecs = _spread_vectors(spark, emb).persist()
    centroids, codebook, _ = _ivfpq_base_index(spark, sf_dir, vecs, b)

    queries = vecs.filter(F.col("id") < N_QUERIES)
    qc = (queries.crossJoin(F.broadcast(centroids))
          .withColumn("d2", kmeans.sqdist(F.col("v"), F.col("cv"))))
    wq = Window.partitionBy("id").orderBy("d2", "cid")
    probed = (qc.withColumn("r", F.row_number().over(wq))
              .filter(F.col("r") <= N_PROBE)
              .select(F.col("id").alias("q_id"),
                      F.col("cid").cast("int").alias("cell")))
    # bounded driver-side collect (≤ K values) so the probed set lands
    # in the scan as a PartitionFilter, not a post-scan join filter
    cells = sorted({r.cell for r in probed.select("cell")
                   .distinct().collect()})
    st = spark.read.parquet(store).filter(F.col("cell").isin(cells))

    lut = (_ivfpq_subvecs(queries).join(F.broadcast(codebook), "m")
           .select(F.col("id").alias("q_id"), "m", "code",
                   F.floor(kmeans.sqdist(F.col("sv"), F.col("cv")) * Q_ADC)
                   .cast("long").alias("d2q")))
    adc = (st.join(F.broadcast(probed), "cell")
           .filter(F.col("q_id") != F.col("id"))
           .join(F.broadcast(lut), ["q_id", "m", "code"])
           .groupBy("q_id", "id", "cell")
           .agg(F.sum("d2q").alias("adc_q")))
    wr = Window.partitionBy("q_id").orderBy("adc_q", "id")
    return (adc.withColumn("rank", F.row_number().over(wr).cast("int"))
            .filter(F.col("rank") <= ANN_TOPK)
            .select("q_id", F.col("id").alias("neighbor_id"),
                    F.col("cell").cast("long").alias("cell"),
                    "adc_q", "rank"))


def _q138_sql() -> str:
    def sqv(a: str, b: str) -> str:
        return ("list_sum(list_transform(range(1, len({a}) + 1), "
                "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
                .format(a=a, b=b))

    return f"""
WITH {_ivfpq_full_encode_ctes()},
qp AS (
  SELECT * FROM (
    SELECT e.id AS q_id, c2.cid AS cell,
           CAST(row_number() OVER (
             PARTITION BY e.id
             ORDER BY {sqv('e.v', 'c2.cv')}, c2.cid) AS INT) AS cell_rank
    FROM e CROSS JOIN c2 WHERE e.id < {N_QUERIES}
  ) WHERE cell_rank <= {N_PROBE}
),
lut AS (
  SELECT s.id AS q_id, s.m, cb.code,
         CAST(floor({sqv('s.sv', 'cb.cv')} * {Q_ADC}) AS BIGINT) AS d2q
  FROM suba s JOIN codebook cb ON s.m = cb.m
  WHERE s.id < {N_QUERIES}
),
adc AS (
  SELECT qp.q_id, p.id AS neighbor_id, p.cell,
         CAST(sum(l.d2q) AS BIGINT) AS adc_q
  FROM qp JOIN post p ON qp.cell = p.cell
  JOIN lut l ON l.q_id = qp.q_id AND l.m = p.m AND l.code = p.code
  WHERE qp.q_id <> p.id
  GROUP BY qp.q_id, p.id, p.cell
)
SELECT q_id, neighbor_id, CAST(cell AS BIGINT) AS cell, adc_q, rank
FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY q_id ORDER BY adc_q, neighbor_id) AS INT) AS rank
  FROM adc
) WHERE rank <= {ANN_TOPK}
"""


#: every id ≡ 0 (mod this) is purged by q139 — victims deliberately
#: SPREAD across all cells (the hard case: every partition is touched)
ANN_GC_MOD = 7


def _ensure_ann_gc_store(spark: SparkSession, sf_dir: str) -> str:
    """Fingerprint-gated build of q139's GC'd copy of the shared ANN
    postings store (delete runs on the COPY so q137/q138's
    certificates stay valid). Returns the gc store path."""
    import shutil

    from ..sources.compaction import delete_where_partitioned
    from ..sources.derived_cache import _FP_NAME, fixture

    store, b, b2 = _ann_store_materialized(spark, sf_dir)

    def build(gc_store: str) -> None:
        shutil.copytree(store, gc_store,
                        ignore=shutil.ignore_patterns(_FP_NAME))
        delete_where_partitioned(spark, gc_store, "cell",
                                 F.col("id") % ANN_GC_MOD == 0)

    return fixture(sf_dir, "ann_store_gc", _ann_store_fp(sf_dir, b, b2)
                   + f"_gc_v1_mod{ANN_GC_MOD}", build)[0]


def q139_ann_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE on the committed postings store — the purge a
    100 TB vector corpus eventually owes (quality retractions,
    contaminated-document takedowns, right-to-be-forgotten), run as
    `sources.compaction.delete_where_partitioned`: victims are censused
    in one column-pruned scan, and ONLY partitions containing victims
    are rewritten (dynamic partition overwrite; an all-victim partition
    is removed outright rather than resurrected). The victim set here
    (id ≡ 0 mod {ANN_GC_MOD}) is deliberately spread across every cell
    — the worst case for partition pruning — so these rows price the
    full-rewrite bound; clustered purges (a domain, a crawl snapshot)
    touch proportionally fewer partitions with the same plan.

    The delete runs on its OWN fingerprint-chained copy of the store
    (``ann_store_gc``), never the shared ``ann_store`` — q137/q138's
    certificates stay valid, and the copy doubles as the
    staged-write/backup discipline a production DELETE uses anyway.
    The chain is idempotent: re-runs see the fingerprint and just read.

    The gated output summarizes the SURVIVING store per (cell, m) with
    exact integer code/id checksums; the oracle full-encodes the corpus
    with base-trained params and applies the same predicate, so a green
    row certifies the delete removed EXACTLY the victims — no
    over-delete, no survivor corruption, across base and both appended
    batches."""
    gc_store = _ensure_ann_gc_store(spark, sf_dir)
    st = spark.read.parquet(gc_store)
    return (st.groupBy(F.col("cell").cast("long").alias("cell"), "m")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("code").alias("code_sum"),
                 F.sum(F.col("code") * F.col("code")).alias("code_sq_sum"),
                 F.sum("id").alias("id_sum")))


def _q139_sql() -> str:
    return f"""
WITH {_ivfpq_full_encode_ctes()}
SELECT cell, m,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(code * code) AS BIGINT) AS code_sq_sum,
       CAST(sum(id) AS BIGINT) AS id_sum
FROM post WHERE id % {ANN_GC_MOD} <> 0
GROUP BY cell, m
"""


#: file-count floor for the v5 (cell, id)-clustered rewrite: ~3 files
#: per IVF cell keeps the per-cell id SUB-clustering demonstrable at
#: gate SF (above it the byte-derived bin count dominates, as q118's)
ANN_MULTISTATS_MIN_BINS = 3 * KMEANS_K


def _ann_versioned_root(spark: SparkSession,
                        sf_dir: str) -> tuple[str, int, int]:
    """The manifest-versioned postings store shared by q141 (time
    travel), q142 (stats-pruned reads), q143 (copy-on-write delete) and
    q146 (multi-column pruning): v1 base postings, v2/v3 frozen-model
    delta appends, v4 compaction rewrite (id-clustered), v5 a
    (cell, id)-clustered rewrite with two-column manifest stats, v6 a
    copy-on-write DELETE of the first ingest batch (a crawl-snapshot
    takedown) — all committed through sources/versioned_store,
    fingerprint-gated for idempotent re-runs. Returns
    ``(root, base_boundary, second_batch_boundary)``."""
    import math
    import os

    from ..sources import versioned_store as vstore
    from ..sources.derived_cache import fixture

    max_id = _emb_vec_max(spark, sf_dir)
    b = (2 * max_id) // 3
    b2 = b + (max_id - b + 1) // 2

    def build(root: str) -> None:
        # multi-consumer cold path; q113's clearCache convention
        vecs = _spread_vectors(spark, load(spark, sf_dir, "embeddings")
                               ).persist()
        centroids, codebook, postings = _ivfpq_base_index(
            spark, sf_dir, vecs, b)
        cols = ("id", "m", "code", "cell")
        vstore.commit_append(spark, root, postings.select(*cols))
        d1 = vecs.filter((F.col("id") > b) & (F.col("id") <= b2))
        vstore.commit_append(
            spark, root,
            _ivfpq_encode(d1, centroids, codebook).select(*cols))
        d2 = vecs.filter(F.col("id") > b2)
        vstore.commit_append(
            spark, root,
            _ivfpq_encode(d2, centroids, codebook).select(*cols))
        # compaction as a SNAPSHOT: new bin-packed files (the q118
        # byte-derived target), old versions untouched
        v3_bytes = sum(
            os.path.getsize(os.path.join(root, "data", f))
            for f in vstore.read_manifest(root, 3)["files"])
        bins = max(1, math.ceil(v3_bytes / ANN_STORE_TARGET_BYTES))
        # range-partitioned rewrite: compaction that PRESERVES id
        # clustering (OPTIMIZE-with-sort), so the compacted files keep
        # tight disjoint min/max(id) stats and q142's file skipping
        # survives compaction — a round-robin rewrite would smear every
        # file across the full id range and silently disable pruning
        vstore.commit_rewrite(
            spark, root,
            vstore.read_version(spark, root, 3)
            .repartitionByRange(bins, "id"))
        # v5: the SERVING clustering — (cell, id) lexicographic ranges
        # with per-file stats on both columns, so a cell-routed probe
        # prunes on cell and an id-range read prunes WITHIN the cell
        # (q146); content identical to v3/v4
        vstore.commit_rewrite(
            spark, root,
            vstore.read_version(spark, root, 4)
            .repartitionByRange(max(ANN_MULTISTATS_MIN_BINS, bins),
                                "cell", "id"),
            stats_cols=("cell", "id"))
        # v6: copy-on-write takedown of ingest batch 1 — only files
        # whose (cell, id) ranges cover the victim window are
        # rewritten; the rest carry by name, and v5 keeps reading the
        # pre-delete state (the snapshot-isolated purge q139's plain
        # hive store cannot give)
        vstore.commit_delete(
            spark, root, (F.col("id") > b) & (F.col("id") <= b2),
            stats_cols=("cell", "id"))

    # v3 token: the chain gained v5 (multi-column stats) + v6 (delete)
    root = fixture(sf_dir, "ann_store_versioned",
                   _ivfpq_model_fp(sf_dir, b) + f"_snap_v3_b2{b2}",
                   build)[0]
    return root, b, b2


def q141_ann_store_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the postings store — the ingest chain replayed
    through a MANIFEST-VERSIONED store (sources/versioned_store: the
    Delta/Iceberg core in miniature): v1 commits the base postings,
    v2/v3 append the two frozen-model delta batches, v4 is a
    COMPACTION REWRITE (new bin-packed files in a new manifest; the
    old files — and so v1–v3 — stay readable until vacuum). The gated
    output reads EVERY version through its manifest and summarizes it;
    the oracle recomputes each snapshot's content from the frozen-model
    full encode by id range, so a green row certifies all four
    snapshots at once — including that the compaction rewrite changed
    LAYOUT and nothing else (v4's row must equal v3's except the
    version label).

    This is the property a plain directory store (q137) cannot give:
    there, compaction destroys history; here every retained reader is
    isolated from appends AND rewrites because nothing a manifest
    references is ever mutated. Vacuum (retention GC) is exercised by
    the invariant tests, not the gated chain, so the four versions
    stay readable for the oracle.

    Scale shape: the chain is q137's (cost ∝ delta per commit,
    compaction ∝ backlog); each snapshot summary is one columnar scan
    of that version's files; manifests are driver-side file lists
    (manifest trees with file stats at real scale — same contract;
    the miniature here already records per-file min/max(id) stats,
    which q142 consumes for file skipping)."""
    from ..sources import versioned_store as vstore

    root, _b, _b2 = _ann_versioned_root(spark, sf_dir)
    parts = []
    for v in (1, 2, 3, 4):
        parts.append(
            vstore.read_version(spark, root, v)
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("code").alias("code_sum"),
                 F.sum(F.col("code") * F.col("code")).alias("code_sq_sum"),
                 F.sum("id").alias("id_sum"))
            .select(F.lit(v).cast("int").alias("version"),
                    "n_rows", "code_sum", "code_sq_sum", "id_sum"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q142_ann_store_stats_pruning(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Stats-based FILE SKIPPING on the versioned store — the other
    half of what a manifest buys (q141 proved snapshots; this proves
    planning): every commit records per-file min/max(id) footer stats
    in the manifest, and a range read opens ONLY the files whose
    stats overlap the predicate (sources/versioned_store.
    read_version_pruned — a pure driver-side planning decision, no
    footer or data reads for skipped files). The gated output runs the
    SAME mid-range predicate (the second ingest batch's id window)
    against version 3 (append layout: only that batch's files overlap)
    AND version 4 (the range-partitioned compaction rewrite: only the
    overlapping bins open) and summarizes each; the oracle computes
    the range's frozen-model encode once per version label, so a green
    row certifies the pruned reads return exactly the unpruned answer
    on BOTH layouts. File-skipping counts (opened < total) are pinned
    by the invariant tests — at 100 TB this skipping is the difference
    between a manifest lookup + k files and a full-index scan for
    every range query.

    Scale shape: planning is driver-side ∝ |files in manifest|
    (manifest trees at real scale); the read touches only overlapping
    files; the summary is one bounded aggregate."""
    from ..sources import versioned_store as vstore

    root, b, b2 = _ann_versioned_root(spark, sf_dir)
    parts = []
    for v in (3, 4):
        df, _opened, _total = vstore.read_version_pruned(
            spark, root, v, "id", b + 1, b2)
        parts.append(
            df.filter((F.col("id") > b) & (F.col("id") <= b2))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("code").alias("code_sum"),
                 F.sum(F.col("code") * F.col("code")).alias("code_sq_sum"),
                 F.sum("id").alias("id_sum"))
            .select(F.lit(v).cast("int").alias("version"),
                    "n_rows", "code_sum", "code_sq_sum", "id_sum"))
    return parts[0].unionByName(parts[1])


def _q142_sql() -> str:
    b2 = "(SELECT b + (mx - b + 1) // 2 FROM bnd)"

    def snap(v: int) -> str:
        return f"""
SELECT CAST({v} AS INT) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(code * code) AS BIGINT) AS code_sq_sum,
       CAST(sum(id) AS BIGINT) AS id_sum
FROM post WHERE id > (SELECT b FROM bnd) AND id <= {b2}"""

    return f"""
WITH {_ivfpq_full_encode_ctes()}
{snap(3)}
UNION ALL {snap(4)}
"""


def _q141_sql() -> str:
    b2 = "(SELECT b + (mx - b + 1) // 2 FROM bnd)"

    def snap(v: int, pred: str) -> str:
        return f"""
SELECT CAST({v} AS INT) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(code * code) AS BIGINT) AS code_sq_sum,
       CAST(sum(id) AS BIGINT) AS id_sum
FROM post WHERE {pred}"""

    return f"""
WITH {_ivfpq_full_encode_ctes()}
{snap(1, "id <= (SELECT b FROM bnd)")}
UNION ALL {snap(2, f"id <= {b2}")}
UNION ALL {snap(3, "TRUE")}
UNION ALL {snap(4, "TRUE")}
"""


def q143_ann_versioned_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level DELETE on the manifest-versioned
    postings store — the r11 verdict's named gap (q139's purge exists
    only on the plain hive store, where a takedown destroys history):
    v6 removes ingest batch 1 (a crawl-snapshot retraction — the id
    window ``(b, b2]``) via ``versioned_store.commit_delete``, which
    censuses victims in one file-grouped scan, rewrites ONLY the files
    whose (cell, id) ranges cover the window, and carries every other
    file BY NAME into the new manifest. The gated output summarizes
    BOTH v5 (pre-delete) and v6 (post-delete): a green row certifies
    the delete removed exactly the victims AND that time travel to the
    pre-delete snapshot still works after it — the two halves of a
    snapshot-isolated purge. The only-victim-files-rewritten property
    is pinned by the invariant tests (carried file names persist across
    the v5→v6 manifests, byte-untouched).

    Scale shape: census ∝ one column-pruned scan; rewrite ∝ victim-
    bearing files (a clustered takedown window touches the few files
    whose stats cover it — here the delete rides v5's (cell, id)
    clustering); the manifest is driver-side metadata."""
    from ..sources import versioned_store as vstore

    root, _b, _b2 = _ann_versioned_root(spark, sf_dir)
    parts = []
    for v in (5, 6):
        parts.append(
            vstore.read_version(spark, root, v)
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("code").alias("code_sum"),
                 F.sum(F.col("code") * F.col("code")).alias("code_sq_sum"),
                 F.sum("id").alias("id_sum"))
            .select(F.lit(v).cast("int").alias("version"),
                    "n_rows", "code_sum", "code_sq_sum", "id_sum"))
    return parts[0].unionByName(parts[1])


def _q143_sql() -> str:
    b2 = "(SELECT b + (mx - b + 1) // 2 FROM bnd)"

    def snap(v: int, pred: str) -> str:
        return f"""
SELECT CAST({v} AS INT) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(code * code) AS BIGINT) AS code_sq_sum,
       CAST(sum(id) AS BIGINT) AS id_sum
FROM post WHERE {pred}"""

    return f"""
WITH {_ivfpq_full_encode_ctes()}
{snap(5, "TRUE")}
UNION ALL {snap(6, f"NOT (id > (SELECT b FROM bnd) AND id <= {b2})")}
"""


def q144_ann_model_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment-drift measure for the frozen IVF model — the signal
    that decides WHEN the q134/q137/q140 frozen-model maintenance must
    give way to q145's retrain cutover: per ingest batch (0 = base,
    1/2 = the two delta batches), the count and the exact-integer sum
    of quantized squared distances from each vector to its NEAREST
    frozen centroid. A rising per-batch mean distance means new data
    is landing ever farther from the base-trained cells — recall decay
    in an IVF index — and production vector stores trigger re-training
    on exactly this statistic (FAISS re-train heuristics). Integer
    determinism: the per-vector distance is quantized with q113/q138's
    proven ``floor(d2 · Q_ADC)`` before summing, so the aggregate is
    exact in both engines.

    Scale shape: one broadcast-K argmin pass over the corpus (q134's
    assign kernel, no codebook work) into a 3-row aggregate — the
    cheapest statistic the store can afford to compute on every batch;
    steady-state cost ∝ delta when computed per ingest batch."""
    from ..operators import kmeans

    emb = load(spark, sf_dir, "embeddings")
    max_id = _emb_vec_max(spark, sf_dir)
    b = (2 * max_id) // 3
    b2 = b + (max_id - b + 1) // 2
    # multi-consumer on the cold cache path; q113's clearCache convention
    vecs = _spread_vectors(spark, emb).persist()
    centroids, _cb, _p = _ivfpq_base_index(spark, sf_dir, vecs, b)
    d2 = kmeans.sqdist(F.col("v"), F.col("cv"))
    nearest = (vecs.crossJoin(F.broadcast(centroids))
               .groupBy("id")
               .agg(F.min(d2).alias("d2")))
    batch = (F.when(F.col("id") <= b, F.lit(0))
             .when(F.col("id") <= b2, F.lit(1))
             .otherwise(F.lit(2)).cast("int").alias("batch"))
    return (nearest.groupBy(batch)
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum(F.floor(F.col("d2") * Q_ADC).cast("long"))
                 .alias("dist_q_sum")))


def _q144_sql() -> str:
    def sqv(a: str, b: str) -> str:
        return ("list_sum(list_transform(range(1, len({a}) + 1), "
                "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
                .format(a=a, b=b))

    b2 = "(SELECT b + (mx - b + 1) // 2 FROM bnd)"
    return f"""
WITH {_ivfpq_full_encode_ctes()},
nearest AS (
  SELECT e.id, min({sqv('e.v', 'c2.cv')}) AS d2
  FROM e CROSS JOIN c2 GROUP BY e.id
)
SELECT CAST(CASE WHEN id <= (SELECT b FROM bnd) THEN 0
                 WHEN id <= {b2} THEN 1 ELSE 2 END AS INT) AS batch,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CAST(floor(d2 * {Q_ADC}) AS BIGINT)) AS BIGINT)
         AS dist_q_sum
FROM nearest GROUP BY 1
"""


def _ann_retrain_root(spark: SparkSession, sf_dir: str) -> str:
    """The retrain-cutover store for q145: v1 commits the FROZEN
    full-corpus postings (base-trained model, the q137/q141 state),
    v2 is the CUTOVER — a re-train of the whole IVF-PQ model over the
    full corpus (q144's drift signal having fired), a full re-encode
    against it, and one ``commit_rewrite`` that atomically swaps the
    serving state while v1 stays readable (time travel back to the
    frozen-model snapshot, the rollback path every cutover needs).
    Fingerprint-gated; the retrained model caches under its own
    ``tag`` so it coexists with the frozen one."""
    from ..sources import versioned_store as vstore
    from ..sources.derived_cache import fixture

    max_id = _emb_vec_max(spark, sf_dir)
    b = (2 * max_id) // 3

    def build(root: str) -> None:
        vecs = _spread_vectors(spark, load(spark, sf_dir, "embeddings")
                               ).persist()
        cols = ("id", "m", "code", "cell")
        centroids, codebook, _base = _ivfpq_base_index(
            spark, sf_dir, vecs, b)
        vstore.commit_append(
            spark, root,
            _ivfpq_encode(vecs, centroids, codebook).select(*cols),
            stats_cols=("id", "cell"), txn="frozen-full")
        # the retrain: same training pipeline, full corpus as the
        # training set (b = max id), separate cache tag; postings are
        # the retrained model's full encode
        _c2, _cb2, postings_r = _ivfpq_base_index(
            spark, sf_dir, vecs, max_id, tag="_retrained")
        vstore.commit_rewrite(spark, root, postings_r.select(*cols),
                              stats_cols=("id", "cell"), txn="cutover")

    return fixture(sf_dir, "ann_store_retrain",
                   _ivfpq_model_fp(sf_dir, b) + "_cutover_v1_"
                   + _ivfpq_model_fp(sf_dir, max_id)[:16], build)[0]


def q145_ann_retrain_cutover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model retrain + cutover on the versioned postings store — what
    happens when q144's drift measure fires: the frozen-model
    maintenance chain (q134/q137/q140) is ended by re-training the
    whole IVF-PQ model on the CURRENT corpus, re-encoding everything,
    and committing the result as a ``commit_rewrite`` snapshot — one
    atomic manifest swap cuts serving over to the new model while the
    frozen-model snapshot stays readable for rollback/AB-serving (time
    travel, q141's property now protecting a MODEL change rather than
    a layout change).

    The gated output summarizes v1 (frozen full encode) and v2
    (retrained full encode); the oracle derives each arm from its own
    full training+encode pipeline (the shared CTE body, trained on
    base rows for v1 and on ALL rows for v2), so a green row certifies
    the retrained centroids, the retrained codebooks, every vector's
    re-routed cell and re-coded bytes, AND the retained pre-cutover
    snapshot.

    Scale shape: the retrain pays one training pass + one full
    re-encode — the amortized cost drift accumulates toward; the
    cutover itself is one manifest publish (O(1) swap, no
    read-path downtime), and rollback is a manifest read."""
    from ..sources import versioned_store as vstore

    root = _ann_retrain_root(spark, sf_dir)
    parts = []
    for v in (1, 2):
        parts.append(
            vstore.read_version(spark, root, v)
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("code").alias("code_sum"),
                 F.sum(F.col("code") * F.col("code")).alias("code_sq_sum"),
                 F.sum("id").alias("id_sum"))
            .select(F.lit(v).cast("int").alias("version"),
                    "n_rows", "code_sum", "code_sq_sum", "id_sum"))
    return parts[0].unionByName(parts[1])


def _q145_sql() -> str:
    def arm(v: int, train_pred: str) -> str:
        return f"""
SELECT * FROM (
  WITH {_ivfpq_full_encode_ctes(train_pred)}
  SELECT CAST({v} AS INT) AS version,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(code) AS BIGINT) AS code_sum,
         CAST(sum(code * code) AS BIGINT) AS code_sq_sum,
         CAST(sum(id) AS BIGINT) AS id_sum
  FROM post
)"""

    return f"""
{arm(1, "id <= (SELECT b FROM bnd)")}
UNION ALL {arm(2, "TRUE")}
"""


#: q146's probe windows over the (cell, id)-clustered v5 layout: a
#: half-keyspace cell range restricted to base ids, and a two-cell
#: range restricted to the first ingest batch's ids
ANN_PROBE_CELL_LO = KMEANS_K // 2


def q146_ann_multicol_pruning(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Multi-column manifest-stats pruning — the r11 verdict's item 5:
    the versioned store's natural reads filter on (cell, id) together
    (a cell-routed probe over an id window), so v5 records per-file
    min/max for BOTH columns and
    ``versioned_store.read_version_pruned_multi`` skips every file
    whose stats miss ANY conjunct. Two probes run against v5 — (a)
    the upper half of the cell keyspace restricted to base ids, (b)
    cells 0–1 restricted to the first ingest batch — each applying
    the precise predicate after the pruned read; the oracle computes
    both windows from the frozen-model full encode, so a green row
    certifies the conjunction-pruned reads return exactly the unpruned
    answers. opened < total per probe is pinned by the invariant
    tests; at 100 TB the conjunction is the difference between
    opening nprobe/K of ONE id range and opening the whole range.

    Scale shape: planning is driver-side ∝ |files in manifest|; the
    read touches only files overlapping both conjuncts; each summary
    is one bounded aggregate."""
    from ..sources import versioned_store as vstore

    root, b, b2 = _ann_versioned_root(spark, sf_dir)
    windows = [
        (1, {"cell": (ANN_PROBE_CELL_LO, KMEANS_K - 1), "id": (0, b)}),
        (2, {"cell": (0, 1), "id": (b + 1, b2)}),
    ]
    parts = []
    for probe, preds in windows:
        df, _opened, _total = vstore.read_version_pruned_multi(
            spark, root, 5, preds)
        precise = ((F.col("cell") >= preds["cell"][0])
                   & (F.col("cell") <= preds["cell"][1])
                   & (F.col("id") >= preds["id"][0])
                   & (F.col("id") <= preds["id"][1]))
        parts.append(
            df.filter(precise)
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("code").alias("code_sum"),
                 F.sum(F.col("code") * F.col("code")).alias("code_sq_sum"),
                 F.sum("id").alias("id_sum"))
            .select(F.lit(probe).cast("int").alias("probe"),
                    "n_rows", "code_sum", "code_sq_sum", "id_sum"))
    return parts[0].unionByName(parts[1])


def _q146_sql() -> str:
    b2 = "(SELECT b + (mx - b + 1) // 2 FROM bnd)"

    def probe(p: int, pred: str) -> str:
        return f"""
SELECT CAST({p} AS INT) AS probe,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(code * code) AS BIGINT) AS code_sq_sum,
       CAST(sum(id) AS BIGINT) AS id_sum
FROM post WHERE {pred}"""

    return f"""
WITH {_ivfpq_full_encode_ctes()}
{probe(1, f"cell >= {ANN_PROBE_CELL_LO} AND cell <= {KMEANS_K - 1}"
          f" AND id >= 0 AND id <= (SELECT b FROM bnd)")}
UNION ALL {probe(2, f"cell >= 0 AND cell <= 1"
                    f" AND id > (SELECT b FROM bnd) AND id <= {b2}")}
"""


def q149_versioned_change_feed(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED between snapshots of the versioned postings
    store — what a downstream consumer (an index replica, a cache, an
    audit) reads instead of re-scanning the table: for three
    characteristic transitions, emit the exact row-level inserts and
    deletes derived from the MANIFESTS alone
    (``versioned_store.version_diff``: carried files cannot contribute
    changes, so only the file-set difference is read, and a mutual
    exceptAll cancels copy-on-write survivor re-emits).

    The three transitions certify the three maintenance classes:
    v1→v2 (HWM append) must feed exactly the first ingest batch as
    inserts and nothing as deletes; v3→v4 (compaction rewrite) must
    feed NOTHING in either direction even though every file changed —
    the strongest "maintenance never touches content" certificate;
    v5→v6 (copy-on-write takedown) must feed exactly the deleted batch
    as deletes and nothing as inserts (its survivor re-emits cancel).
    The oracle recomputes each feed's count/checksums from the
    frozen-model full encode, with the empty feeds pinned as 0-count
    NULL-sum rows.

    Scale shape: each feed costs only the transition's changed files
    (an append's feed ∝ the appended files; the compaction feed is the
    one that reads the rewrite's worth of rows — exactly what Delta's
    CDF pays for a rewrite without a CDC log)."""
    from ..sources import versioned_store as vstore

    root, _b, _b2 = _ann_versioned_root(spark, sf_dir)
    parts = []
    for vf, vt in ((1, 2), (3, 4), (5, 6)):
        ins, dels = vstore.version_diff(spark, root, vf, vt)
        for ct, df in (("insert", ins), ("delete", dels)):
            parts.append(
                df.agg(F.count(F.lit(1)).alias("n_rows"),
                       F.sum("id").alias("id_sum"),
                       F.sum("code").alias("code_sum"))
                .select(F.lit(vf).cast("int").alias("v_from"),
                        F.lit(vt).cast("int").alias("v_to"),
                        F.lit(ct).alias("change_type"),
                        "n_rows", "id_sum", "code_sum"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _q149_sql() -> str:
    b2 = "(SELECT b + (mx - b + 1) // 2 FROM bnd)"
    win = f"id > (SELECT b FROM bnd) AND id <= {b2}"

    def feed(vf: int, vt: int, ct: str, pred: str | None) -> str:
        if pred is None:
            return f"""
SELECT CAST({vf} AS INT) AS v_from, CAST({vt} AS INT) AS v_to,
       '{ct}' AS change_type, CAST(0 AS BIGINT) AS n_rows,
       CAST(NULL AS BIGINT) AS id_sum, CAST(NULL AS BIGINT) AS code_sum"""
        return f"""
SELECT CAST({vf} AS INT) AS v_from, CAST({vt} AS INT) AS v_to,
       '{ct}' AS change_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(id) AS BIGINT) AS id_sum,
       CAST(sum(code) AS BIGINT) AS code_sum
FROM post WHERE {pred}"""

    return f"""
WITH {_ivfpq_full_encode_ctes()}
{feed(1, 2, 'insert', win)}
UNION ALL {feed(1, 2, 'delete', None)}
UNION ALL {feed(3, 4, 'insert', None)}
UNION ALL {feed(3, 4, 'delete', None)}
UNION ALL {feed(5, 6, 'insert', None)}
UNION ALL {feed(5, 6, 'delete', win)}
"""


# --- q109: SQ8 scalar quantization (ANN memory compression) ---------------

SQ8_LEVELS = 255


def q109_sq8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar quantization of the embedding corpus (FAISS
    ScalarQuantizer shape): per-DIMENSION min/max train a uniform
    256-level grid, every component maps to a code, and the per-label
    reconstruction error is reported in exact nano-units — the 4×
    memory cut that decides whether a 100 TB vector corpus fits the
    cluster's RAM at all, with the error column quantifying what the
    compression costs (the companion to q94's recall-bearing IVF: IVF
    prunes WHICH vectors are touched, SQ shrinks what each one costs).

    Scale shape: pass 1 is a D-group min/max (map-side combinable,
    D rows broadcast back); pass 2 assigns codes and errors in pure map
    arithmetic and aggregates by label — the shuffle carries per-label
    partials only. Determinism: code = floor((x−lo)·255/(hi−lo)) and
    the dequantized value share one explicitly-parenthesized expression
    shape in both engines (identical IEEE evaluation order), and the
    error aggregates as BIGINT nano-units with an integer-div mean —
    no float accumulation anywhere. Constant dimensions (hi = lo)
    quantize to code 0 with zero error."""
    emb = load(spark, sf_dir, "embeddings")
    vecs = _spread_vectors(spark, emb)
    lab = emb.select(F.col("vec_id").alias("id"), "label")
    comp = vecs.select("id", F.posexplode("v").alias("pos", "x"))
    bounds = (comp.groupBy("pos")
              .agg(F.min("x").alias("lo"), F.max("x").alias("hi")))
    j = comp.join(F.broadcast(bounds), "pos")
    code = (F.when(F.col("hi") > F.col("lo"),
                   F.least(F.lit(SQ8_LEVELS),
                           F.floor((F.col("x") - F.col("lo")) * SQ8_LEVELS
                                   / (F.col("hi") - F.col("lo")))
                           .cast("int")))
            .otherwise(0))
    q = j.withColumn("code", code)
    deq = (F.col("lo")
           + (F.col("code") * (F.col("hi") - F.col("lo"))) / SQ8_LEVELS)
    err = q.select("id", F.floor(F.abs(F.col("x") - deq) * 1_000_000_000)
                   .cast("long").alias("err_e9"))
    return (err.join(lab, "id")
            .groupBy("label")
            .agg(F.countDistinct("id").alias("n_vecs"),
                 F.count(F.lit(1)).alias("n_comps"),
                 F.expr("sum(err_e9) div count(*)").alias("mean_err_e9"),
                 F.max("err_e9").alias("max_err_e9")))


_Q109_SQL = f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, label
           FROM embeddings),
comp AS (
  SELECT id, label, i - 1 AS pos, v[i] AS x
  FROM e, unnest(range(1, len(v) + 1)) AS u(i)
),
bounds AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM comp GROUP BY pos),
q AS (
  SELECT c.id, c.label, c.x, b.lo, b.hi,
         CASE WHEN b.hi > b.lo
              THEN least({SQ8_LEVELS},
                         CAST(floor((c.x - b.lo) * {SQ8_LEVELS}
                                    / (b.hi - b.lo)) AS INT))
              ELSE 0 END AS code
  FROM comp c JOIN bounds b USING (pos)
),
err AS (
  SELECT id, label,
         CAST(floor(abs(x - (lo + (code * (hi - lo)) / {SQ8_LEVELS}))
                    * 1000000000) AS BIGINT) AS err_e9
  FROM q
)
SELECT label, count(DISTINCT id) AS n_vecs, count(*) AS n_comps,
       CAST(sum(err_e9) // count(*) AS BIGINT) AS mean_err_e9,
       CAST(max(err_e9) AS BIGINT) AS max_err_e9
FROM err GROUP BY label
"""


# --- q86: cluster purity (unsupervised partitions vs labels) ---------------


def q86_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-vs-label agreement: assign every embedding to its nearest
    seed centroid (q81's assignment step) and score each cluster by
    majority-label purity — the standard external evaluation of a
    learned partitioning (IVF cells, dedup clusters) against labels.

    Scale shape: assignment is the broadcast-K argmin (shuffle-free
    fanout); the (cluster, label) contingency table is one map-side-
    combinable aggregate of |vectors| rows into ≤ K·|labels| cells; the
    majority pick is a struct-min over that tiny table. Tie on count
    goes to the smaller label in both engines ((-n, label) min)."""
    from ..functions.rounding import round_half_up
    from ..operators import kmeans
    emb = load(spark, sf_dir, "embeddings")
    vectors = _spread_vectors(spark, emb)
    centroids = (vectors.filter(F.col("id") < KMEANS_K)
                 .select(F.col("id").alias("cid"), F.col("v").alias("cv")))
    assigned = kmeans.assign(vectors, centroids).select("id", "cid")
    lab = emb.select(F.col("vec_id").alias("id"), "label")
    counts = (assigned.join(lab, "id")
              .groupBy("cid", "label").agg(F.count("*").alias("n")))
    best = (counts.groupBy("cid")
            .agg(F.min(F.struct((-F.col("n")).alias("neg_n"),
                                F.col("label"))).alias("m"),
                 F.sum("n").alias("n_members")))
    n_maj = -F.col("m.neg_n")
    return best.select(
        F.col("cid").alias("cluster_id"),
        F.col("n_members"),
        F.col("m.label").alias("majority_label"),
        n_maj.alias("n_majority"),
        round_half_up(n_maj / F.col("n_members"), 6).alias("purity"))


_Q86_SQL = f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT id AS cid, v AS cv FROM e WHERE id < {KMEANS_K}),
a AS (
  SELECT e.id, min(({_SQDIST}, c.cid)) AS m
  FROM e CROSS JOIN c GROUP BY e.id
),
al AS (
  SELECT a.m[2] AS cid, emb.label
  FROM a JOIN embeddings emb ON a.id = emb.vec_id
),
counts AS (SELECT cid, label, count(*) AS n FROM al GROUP BY cid, label),
best AS (
  SELECT cid, min((-n, label)) AS m,
         CAST(sum(n) AS BIGINT) AS n_members
  FROM counts GROUP BY cid
)
SELECT cid AS cluster_id, n_members,
       m[2] AS majority_label, -m[1] AS n_majority,
       floor((-m[1]) / n_members * 1000000 + 0.5) / 1000000 AS purity
FROM best
"""


# --- q126: exact embedding covariance (top cross-dim pairs) ---------------

COV_DIM = 64
COV_TOPK = 20


def q126_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-covarying embedding dimension pairs, from an EXACT
    integer covariance matrix — the feature-diagnostics / whitening-prep
    stage of an embedding pipeline (correlated dims mean wasted ANN
    bytes; PCA/OPQ rotations start from exactly this matrix).

    Plan: one corpus pass through the Arrow-batched partial-X^T X
    kernel (operators/similarity.covariance_partials) reduces each
    batch to O(d^2) int64 partial rows; a single groupBy sums them in
    exact decimal space — partials cast to DECIMAL(20,0), whose sum
    Spark widens to DECIMAL(30,0): with |q| <= 1e7 each row contributes
    |q_i*q_j| <= 1e14, so the sum stays exact to ~1e16 rows, far beyond
    any corpus — so the shuffle carries
    #batches * d^2 tiny rows and the corpus is touched exactly once, at
    any scale. The centered numerator n*C_ij - S_i*S_j multiplies two
    DECIMAL(30,0)s, landing in Spark's capped DECIMAL(38,0) (exact
    while |num| < 1e38; |num| < 1e33 even at 1e10 rows), ranking
    happens in that exact integer space (no float can flip ranks), and
    the descale to a readable double covariance happens once at the end
    with identical IEEE ops on both engines (the q60 contract).

    The count row joins via crossJoin(broadcast(1-row)) — the
    plan-lint-allowlisted bounded-broadcast shape (q105's bounds row).
    """
    # single-row-group testdata would serialize the kernel on one core;
    # spread to full parallelism first (the corpus-side contract every
    # embedding operator in this module applies)
    emb = (load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
           .transform(lambda d: similarity._spread(d, "vec_id"))
           .select("embedding"))
    parts = similarity.covariance_partials(emb, "embedding", COV_DIM)
    # O(d^2) rows consumed 4x (C, S_a, S_b, n) — checkpoint so the
    # corpus-scale kernel pass runs ONCE (q113 fan-out lesson)
    agg = (parts.groupBy("i", "j")
           .agg(F.sum(F.col("v").cast("decimal(20,0)")).alias("s"))
           .localCheckpoint(eager=True))
    c = (agg.filter((F.col("i") >= 0) & (F.col("j") > F.col("i")))
         .select("i", "j", F.col("s").alias("c")))
    sm = agg.filter((F.col("i") >= 0) & (F.col("j") == -1))
    sa = sm.select(F.col("i").alias("i"), F.col("s").alias("s_a"))
    sb = sm.select(F.col("i").alias("j"), F.col("s").alias("s_b"))
    nrow = (agg.filter(F.col("i") == -1)
            .select(F.col("s").alias("n")))
    num = (c.join(F.broadcast(sa), "i")
           .join(F.broadcast(sb), "j")
           .crossJoin(F.broadcast(nrow))
           .select(F.col("i"), F.col("j"),
                   (F.col("n") * F.col("c")
                    - F.col("s_a") * F.col("s_b")).alias("cov_num"),
                   F.col("n")))
    denom = (F.col("n").cast("double") * F.col("n").cast("double")
             * F.lit(float(similarity.COV_SCALE) ** 2))
    return (num
            .orderBy(F.abs(F.col("cov_num")).desc(), "i", "j")
            .limit(COV_TOPK)
            .select(F.col("i").alias("dim_i"), F.col("j").alias("dim_j"),
                    round_half_up(F.col("cov_num").cast("double") / denom,
                                  9).alias("cov")))


_Q126_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
xr AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS ev
  FROM e
),
x AS (
  SELECT vec_id, i,
         CAST(floor(ev * {similarity.COV_SCALE}.0 + 0.5) AS BIGINT) AS qv
  FROM xr
),
nrow AS (SELECT count(*) AS n FROM e),
s AS (SELECT i, sum(CAST(qv AS HUGEINT)) AS si FROM x GROUP BY i),
c AS (
  SELECT a.i AS i, b.i AS j, sum(CAST(a.qv AS HUGEINT) * b.qv) AS cij
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i
  GROUP BY a.i, b.i
),
num AS (
  SELECT c.i, c.j,
         CAST(nrow.n AS HUGEINT) * c.cij - sa.si * sb.si AS cov_num,
         nrow.n AS n
  FROM c
  JOIN s sa ON sa.i = c.i
  JOIN s sb ON sb.i = c.j
  CROSS JOIN nrow
)
SELECT CAST(i AS INTEGER) AS dim_i, CAST(j AS INTEGER) AS dim_j,
       {round_half_up_sql(
           'CAST(cov_num AS DOUBLE) / '
           f'(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * {float(1_000_000) ** 2!r})',
           9)} AS cov
FROM num
ORDER BY abs(cov_num) DESC, i, j
LIMIT {COV_TOPK}
"""


QUERIES: dict[str, Query] = {
    "q28_ivf_topk": Query(q28_ivf_topk, _Q28_SQL),
    "q29_embedding_neardup": Query(q29_embedding_neardup, _Q29_SQL),
    "q81_kmeans_step": Query(q81_kmeans_step, _Q81_SQL),
    "q82_kmeans_lloyd": Query(q82_kmeans_lloyd, _Q82_SQL),
    "q86_cluster_purity": Query(q86_cluster_purity, _Q86_SQL),
    "q94_learned_ivf": Query(q94_learned_ivf, _q94_sql()),
    "q98_semantic_dedup": Query(q98_semantic_dedup, _q98_sql()),
    "q109_sq8_quantization": Query(q109_sq8_quantization, _Q109_SQL),
    "q111_semantic_dedup_hier": Query(q111_semantic_dedup_hier, _q111_sql()),
    "q113_ivfpq_adc": Query(q113_ivfpq_adc, _q113_sql()),
    "q126_embedding_covariance": Query(q126_embedding_covariance, _Q126_SQL),
    "q134_incremental_ann": Query(q134_incremental_ann, _q134_sql()),
    "q137_ann_index_writeback": Query(q137_ann_index_writeback,
                                      _q137_sql()),
    "q138_ann_store_probe": Query(q138_ann_store_probe, _q138_sql()),
    "q139_ann_store_delete": Query(q139_ann_store_delete, _q139_sql()),
    "q141_ann_store_snapshot": Query(q141_ann_store_snapshot,
                                     _q141_sql()),
    "q142_ann_store_stats_pruning": Query(q142_ann_store_stats_pruning,
                                          _q142_sql()),
    "q143_ann_versioned_delete": Query(q143_ann_versioned_delete,
                                       _q143_sql()),
    "q144_ann_model_drift": Query(q144_ann_model_drift, _q144_sql()),
    "q145_ann_retrain_cutover": Query(q145_ann_retrain_cutover,
                                      _q145_sql()),
    "q146_ann_multicol_pruning": Query(q146_ann_multicol_pruning,
                                       _q146_sql()),
    "q149_versioned_change_feed": Query(q149_versioned_change_feed,
                                        _q149_sql()),
}
