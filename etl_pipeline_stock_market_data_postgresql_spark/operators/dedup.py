"""Document deduplication operators (beyond-reference, first-class):
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each implementation):

- **exact**: hash-groupBy on a 32-byte digest, not the full text — the
  shuffle carries (hash, id), never the documents themselves.
- **ngram Jaccard**: candidate pairs come from an *inverted shingle
  index* self-join (pairs share ≥1 shingle), never an all-pairs cross
  product. Cost is Σ df(shingle)²; a stop-shingle cap (``max_df``)
  bounds the quadratic blowup from ubiquitous shingles at 100 TB.
- **MinHash+LSH**: constant-size signature (K permutations) per doc,
  banded so only same-band-signature docs join — sub-quadratic end to
  end; signature agg is map-side partial (K `min`s).
- **SimHash**: one 32-bit signature per doc via token-bit vote;
  exact-collision groups via groupBy on the signature.

All expressions use the portable MD5-derived hashes from
functions.hashing so the DuckDB oracle reproduces results exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import textstats
from ..functions.hashing import MERSENNE_P, MINHASH_PERMS, hash32, minhash_perm
from ..session import local_frame
from .graph import cut, iterate


def exact_dedup_groups(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct text: canonical (min) id + duplicate count."""
    return (docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups")))


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition by key to full parallelism. Compute-heavy text
    operators follow a skinny scan (documents can arrive as one
    row-group); without this the explode+hash work serializes on
    however few partitions the scan produced."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)


def shingle_table(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs — the inverted-index building block.
    ``array_distinct`` before the explode already guarantees per-doc
    uniqueness, so no post-explode distinct (that would be a full
    shuffle of every shingle instance for nothing).

    Tokenization is projected BELOW the repartition exchange: the n-gram
    transform references the token array once per element, and Catalyst
    inlines alias chains within a stage — without the exchange boundary
    the split/lower/filter pipeline would re-run inside every element_at
    (O(words²) string work per doc, observed in the physical plan). The
    exchange materializes `tk` once per doc and ships the array."""
    toked = docs.select(F.col(id_col), textstats.tokens(F.col(text_col)).alias("tk"))
    grams = textstats.word_ngrams(F.col("tk"), n)
    return (_spread(toked, id_col)
            .select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")))


def jaccard_pairs(shingles: DataFrame, id_col: str, threshold: float,
                  max_df: int | None = None) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold from an inverted
    shingle index. ``max_df`` drops shingles present in more than that
    many docs (stop-shingles) before pairing — the standard guard
    against quadratic hot keys; None keeps exact semantics."""
    sh = shingles
    if max_df is not None:
        # the df-count aggregate and the stop-shingle filter both consume
        # the (explode-heavy) shingle pipeline — persist it at the fan-out.
        # Filtering is a LEFT ANTI against the *hot* set (df > max_df):
        # heavy hitters above any useful cap are few, so AQE broadcasts
        # that side and the filter costs no shuffle — vs a semi-join on
        # the keep-set, which is nearly every distinct shingle. The df
        # aggregate itself is map-side combinable, and no count-over-
        # window is involved, so a planet-hot shingle never forces a
        # single sorted window partition.
        pre = sh.persist()
        hot = (pre.groupBy("shingle").agg(F.count("*").alias("_df"))
               .filter(F.col("_df") > max_df).select("shingle"))
        # materialize the capped index eagerly (cheap: both inputs read
        # the cached pre-cap blocks), then free the pre-cap cache — the
        # uncapped shingle set is the largest intermediate in the whole
        # pipeline and must not outlive this stage (ADVICE r2)
        sh = pre.join(hot, "shingle", "left_anti").persist()
        sh.count()
        pre.unpersist()
    else:
        # the index fans out into three branches (both join sides +
        # sizes); persist so the shingle pipeline runs once, not thrice.
        # This cache backs the RETURNED lazy result, so the caller owns
        # its lifetime (bench.py/tests clearCache between queries).
        sh = sh.persist()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_common")))
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = (inter.join(sz_a, "id_a").join(sz_b, "id_b")
           .withColumn("jaccard",
                       F.col("n_common")
                       / (F.col("n_a") + F.col("n_b") - F.col("n_common"))))
    return jac.filter(F.col("jaccard") >= threshold)


def minhash_signatures(shingles: DataFrame, id_col: str,
                       k: int = len(MINHASH_PERMS)) -> DataFrame:
    """K-permutation MinHash signature per doc as columns m0..m{k-1} —
    one grouped aggregation, map-side combinable."""
    hm = (hash32(F.col("shingle")) % F.lit(MERSENNE_P)).alias("hm")
    hashed = shingles.select(F.col(id_col), hm)
    aggs = [F.min(minhash_perm(F.col("hm"), i)).alias(f"m{i}") for i in range(k)]
    return hashed.groupBy(id_col).agg(*aggs)


def band_table(signatures: DataFrame, id_col: str,
               bands: int = 4, rows_per_band: int = 3) -> DataFrame:
    """(id, band_id, band_key) from a signature table with columns
    m0..m{bands*rows_per_band-1} — the LSH bucketing projection, shared
    by batch pairing (``lsh_candidate_pairs``) and the incremental index
    path (``operators.incremental_dedup``): deriving bands from the
    stored signatures is a cheap column projection, never a re-shingle."""
    band_rows = []
    for b in range(bands):
        cols = [F.col(f"m{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)]
        band_rows.append(signatures.select(
            F.col(id_col), F.lit(b).alias("band_id"),
            F.concat_ws("_", *cols).alias("band_key")))
    all_bands = band_rows[0]
    for br in band_rows[1:]:
        all_bands = all_bands.unionByName(br)
    return all_bands


def lsh_candidate_pairs(signatures: DataFrame, id_col: str,
                        bands: int = 4, rows_per_band: int = 3) -> DataFrame:
    """Banded LSH: docs agreeing on all rows of ≥1 band become candidate
    pairs. The band join key is (band_id, concatenated band signature) —
    equi-join, shuffle proportional to docs × bands."""
    # the band table self-joins: persist so signatures compute once
    signatures = signatures.persist()
    all_bands = band_table(signatures, id_col, bands, rows_per_band)
    a = all_bands.select(F.col(id_col).alias("id_a"), "band_id", "band_key")
    b = all_bands.select(F.col(id_col).alias("id_b"), "band_id", "band_key")
    return (a.join(b, ["band_id", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def verify_jaccard_on_pairs(pairs: DataFrame, shingles: DataFrame, id_col: str,
                            threshold: float,
                            cache_out: list | None = None) -> DataFrame:
    """Exact Jaccard for a (small) candidate-pair set — the verification
    stage after LSH: cost is Σ_pairs (|sh(a)| + |sh(b)|), and the
    exact computation touches only candidates.

    Shape: each doc's (already distinct) shingles are FINGERPRINTED to
    portable 60-bit longs (functions.hashing.hash60) and folded into a
    sorted array; candidate pairs join their two array rows and
    ``array_intersect`` computes |∩| JVM-side per pair. Set semantics
    are exact over the fingerprints — identical to raw-shingle Jaccard
    up to a ~2^-60 within-doc collision, and since the DuckDB oracle
    derives the SAME digest, any collision changes both engines
    identically. Two scale levers over the raw-string shape (which had
    already cut q51 181.6s→41.0s / q61 274.4s→68.8s at the 100× probe
    vs the exploded-intermediate shape):

    - the arrays carry 8-byte longs, not ~30-byte shingle strings —
      the verify join's second shuffle ships every surviving pair's
      a-side array again, so its bytes scale with Σ_pairs|sh(a)|, and
      the per-pair intersect builds long hash sets instead of string
      ones (measured at the 100× probe: verify 142s → 56s);
    - the fold aggregates only docs that APPEAR IN A PAIR (left-semi
      against the pair ids): band collisions concentrate, so the pair
      universe is a fraction of the corpus (100× probe: 364k of 500k
      docs) and the md5 projection runs map-side BELOW the semi-join's
      exchange — raw shingle strings never shuffle at all.

    ``pairs`` is consumed twice (the id universe + the verify join),
    so it is persisted here; the handle lands in ``cache_out`` with the
    same ownership contract as the sets table below.

    Cache lifecycle: the per-doc fingerprint-array table is persisted
    (both pair sides read it) and BACKS THE RETURNED LAZY RESULT, so
    the caller owns its lifetime (same contract as ``jaccard_pairs``;
    bench.py/tests clearCache between queries). A caller that detaches
    its result from this lineage (e.g. via localCheckpoint) should pass
    ``cache_out`` — the persisted handles are appended to it for an
    explicit ``unpersist()`` once the result is materialized (ADVICE
    r7: without that, each invocation pins ~|docs| cache blocks for the
    rest of a multi-query process)."""
    from ..functions.hashing import hash60

    pairs = pairs.persist()
    ids = (pairs.select(F.col("id_a").alias(id_col))
           .unionByName(pairs.select(F.col("id_b").alias(id_col)))
           .distinct())
    fp = shingles.select(F.col(id_col), hash60(F.col("shingle")).alias("h"))
    sets = (fp.join(ids, id_col, "left_semi")
            .groupBy(id_col)
            # collect_set: the shingle rows are distinct per doc, but a
            # fingerprint collision could alias two of them — the SET of
            # fingerprints is what both engines count
            .agg(F.array_sort(F.collect_set("h")).alias("shs"))
            .withColumn("n_sh", F.size("shs").cast("long"))
            .persist())
    if cache_out is not None:
        cache_out.append(pairs)
        cache_out.append(sets)
    return jaccard_on_set_tables(pairs, sets, sets, id_col, threshold)


def fingerprint_sets(shingles: DataFrame, id_col: str) -> DataFrame:
    """(id, shs: sorted array of 60-bit shingle fingerprints, n_sh) —
    the per-doc set representation the verify stage intersects. The md5
    projection runs below the aggregate's exchange, so raw shingle
    strings never shuffle; collect_set guards the ~2^-60 within-doc
    fingerprint collision (the SET of fingerprints is what both
    engines count)."""
    from ..functions.hashing import hash60

    fp = shingles.select(F.col(id_col), hash60(F.col("shingle")).alias("h"))
    return (fp.groupBy(id_col)
            .agg(F.array_sort(F.collect_set("h")).alias("shs"))
            .withColumn("n_sh", F.size("shs").cast("long")))


def jaccard_on_set_tables(pairs: DataFrame, sets_a: DataFrame,
                          sets_b: DataFrame, id_col: str,
                          threshold: float) -> DataFrame:
    """Exact fingerprint-set Jaccard for candidate pairs against
    prebuilt set tables (``fingerprint_sets`` shape: id, shs, n_sh).
    ``sets_a`` serves the id_a side, ``sets_b`` the id_b side — the two
    differ in the incremental path (delta vs stored index).

    MERGE hints are load-bearing: Catalyst statically UNDERESTIMATES
    the post-explode shingle-array aggregate and broadcasts it — fine
    at gate SF, but the 100x probe's sets table is GBs and the
    broadcast build OOMed the default driver (found by the round-8
    full-registry sweep; r6/r7 probes masked it with a 48g driver).
    An explicit sort-merge join is the 100 TB-safe shape — no hash
    map on either side, graceful spill — and costs nothing
    measurable at gate scale. (AQE cannot demote a statically-chosen
    broadcast, so the hint must be static too.)"""
    sa = sets_a.select(F.col(id_col).alias("id_a"),
                       F.col("shs").alias("sh_a"), F.col("n_sh").alias("n_a"))
    sb = sets_b.select(F.col(id_col).alias("id_b"),
                       F.col("shs").alias("sh_b"), F.col("n_sh").alias("n_b"))
    jac = (pairs.join(sa.hint("merge"), "id_a").join(sb.hint("merge"), "id_b")
           .withColumn("n_common",
                       F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
           .drop("sh_a", "sh_b")
           .withColumn("jaccard",
                       F.col("n_common")
                       / (F.col("n_a") + F.col("n_b") - F.col("n_common"))))
    return jac.filter(F.col("jaccard") >= threshold)


def simhash(docs: DataFrame, id_col: str, text_col: str,
            n_bits: int = 32) -> DataFrame:
    """32-bit SimHash per doc: every token (with multiplicity) votes
    ±1 on each bit of its 32-bit hash; bit j of the signature is 1 iff
    the vote sum is positive. explode(tokens) × explode(bits) keeps the
    whole computation in one groupBy — no UDFs, no driver loops."""
    toks = _spread(docs, id_col).select(
        F.col(id_col),
        F.explode(textstats.tokens(F.col(text_col))).alias("tok"))
    hashed = toks.select(F.col(id_col), hash32(F.col("tok")).alias("h"))
    bits = hashed.select(
        F.col(id_col), "h",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"))
    # portable bit extraction: floor(h / 2^bit) % 2 (shiftright needs a
    # literal count in both engines' function APIs)
    bit_val = (F.floor(F.col("h") / F.pow(F.lit(2.0), F.col("bit"))).cast("long")
               % F.lit(2))
    votes = bits.withColumn("vote", F.when(bit_val == 1, 1).otherwise(-1))
    per_bit = (votes.groupBy(id_col, "bit")
               .agg(F.sum("vote").alias("vote_sum")))
    weight = F.when(F.col("vote_sum") > 0,
                    F.pow(F.lit(2.0), F.col("bit")).cast("long")).otherwise(F.lit(0))
    return (per_bit.groupBy(id_col)
            .agg(F.sum(weight).alias("simhash")))


#: Below this many edges the component search finalizes driver-local:
#: the edge list collects to ≤ ~32 MB and union-find runs in
#: milliseconds, vs O(log diameter) Spark rounds of pure job-scheduling
#: overhead (measured: the 100× probe's 66k verified pairs took ~70s
#: through the distributed loop, <1s driver-local). Same hybrid shape
#: as bpe.DRIVER_VOCAB_THRESHOLD; above it the distributed loop runs
#: unchanged, and a property test pins the two paths equal.
DRIVER_EDGES_THRESHOLD = 2_000_000


def _cc_driver_local(edges: DataFrame, src: str, dst: str,
                     rows=None) -> DataFrame:
    """Driver-side union-find finalizer — identical fixpoint to the
    distributed loop (comp = minimum reachable node id), reached by
    keeping every union rooted at the smaller id. ``rows`` lets the
    caller hand in an already-collected edge list (the take-probe in
    :func:`connected_components`) so the edges are read exactly once."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in (rows if rows is not None
                else edges.select(src, dst).collect()):
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-rooted union: the root IS the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    node_t = edges.schema[src].dataType.simpleString()
    return local_frame(edges.sparkSession, rows,
                       f"node {node_t}, comp {node_t}")


def _label_sum(labels: DataFrame):
    return labels.agg(
        F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")).first()["s"]


def connected_components(edges: DataFrame, src: str, dst: str,
                         max_iter: int = 25,
                         driver_edges_threshold: int = DRIVER_EDGES_THRESHOLD
                         ) -> DataFrame:
    """(node, comp) for every node in ``edges``, where ``comp`` is the
    minimum node id reachable through the undirected pair graph — the
    cluster-resolution step that turns near-dup PAIRS into dedup GROUPS
    (pick one canonical doc per component, drop the rest).

    Hybrid finalizer: near-dup VERIFIED pair sets are a vanishing
    fraction of the corpus (the 100× probe verifies 66k of 21.6M
    candidates), so when the edge list is below
    ``driver_edges_threshold`` the component search collects it and
    runs exact union-find driver-side (``_cc_driver_local``) — the
    distributed rounds below are retained for the beyond-threshold
    regime and property-pinned equal to the driver path.

    Min-label propagation with POINTER DOUBLING: every node starts
    labeled with itself; each round takes the min of its own and its
    neighbors' labels, then shortcuts ``comp ← label(comp)`` (path
    halving — every comp value is itself a node id, so the shortcut is
    one |nodes|-row equi-join). Plain propagation needs diameter
    rounds, which is fine for dense near-dup cliques but NOT for the
    chain-shaped components a large scrambled corpus produces — the
    100× probe hit a >25-diameter component and the round-6 cap.
    With the shortcut the label graph's effective distance roughly
    halves per round, so convergence is O(log diameter) Spark jobs
    (the Hash-to-Min / large-star contraction bound, Kiveris et al.),
    each an edge equi-join + grouped min + a labels self-join, shuffle
    ∝ edges. Nothing is ever collected; the driver sees one scalar per
    round. The fixpoint is unchanged: label(comp) is reachable
    through comp, labels are monotone non-increasing, so the limit is
    still the component-minimum id.

    Convergence is detected with a 1-row aggregate: labels only ever
    decrease, so sum(comp) is strictly decreasing until fixpoint —
    comparing consecutive sums costs one scalar read, not a
    change-count join. The sum is done in DECIMAL(38,0) so overflow
    can't fake convergence at scale.

    The rounds run on the graph operators' iteration core
    (``graph.iterate``): this function supplies one round
    (``label_propagation``) and the label-sum witness, and the core
    decides the cuts and the stop. Because the witness reads every
    state, each round's labels are cut with a DISK_ONLY
    ``localCheckpoint``, not merely persisted: persist caches data but
    keeps the logical plan, and an iterative join DOUBLES the plan tree
    per round (round k references round k-1 twice) — analysis alone
    OOMs the driver near k≈20. Checkpointing truncates lineage to the
    materialized blocks, so the plan stays constant-size per round. On
    a real cluster with preemptible executors, swap localCheckpoint for
    reliable ``checkpoint()`` on a checkpoint dir; the algorithm is
    unchanged.

    Storage lifecycle: the initial and per-round label states live on
    local DISK_ONLY blocks (like every iterative graph state: a
    node-table-sized state never unrolls through the heap). At most
    TWO rounds of label blocks are ever referenced (the core rebinds
    its state each round, dropping the only reference to round k-1;
    Spark's ContextCleaner reclaims dereferenced checkpoint RDD
    blocks). The edge cache is freed deterministically on every exit
    path, before a missed fixpoint raises ``RuntimeError``. The final
    labels' blocks back the returned DataFrame and are the caller's to
    release.

    Caller contract: PERSIST ``edges`` before calling. The finalizer
    choice is a ``take(threshold+1)`` probe — in the small-edge regime
    the probe IS the driver-local collect (one action total), beyond
    the threshold the edge list is consumed again by the sym/labels
    derivation — an unpersisted caller re-runs its entire verify
    pipeline once per consumer. Every in-repo caller persists; the
    probe is deliberately NOT wrapped in an internal persist here
    because the driver-local path would then cache the edge list twice
    (caller's handle + ours) with no way to release the caller's.
    """
    # Size probe and driver-local collect in ONE action: take(N+1)
    # short-circuits partition scans, and when the edge list fits the
    # threshold the returned rows ARE the whole edge list — the old
    # count()-then-collect() shape paid two passes for the common
    # small-edge case (re-measured r17: count+collect was +4 Spark
    # jobs and no faster in interleaved q122 A/Bs, so take stays).
    # Driver-transfer bound (r17 ADVICE): in the BIG-edge regime the
    # probe still ships threshold+1 rows (two longs each, ~50 MB as
    # Python Rows at the 2M default) before the distributed path is
    # taken — bounded, and no larger than what the small path must
    # hold anyway, so the threshold IS the driver heap sizing knob;
    # lower it if the driver is memory-constrained.
    probe = edges.select(src, dst).take(driver_edges_threshold + 1)
    if len(probe) <= driver_edges_threshold:
        return _cc_driver_local(edges, src, dst, rows=probe)
    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .unionByName(edges.select(F.col(dst).alias("u"),
                                     F.col(src).alias("v")))
           .distinct().persist())

    def label_propagation(labels: DataFrame) -> DataFrame:
        # every node has >= 1 neighbor by construction, so the inner
        # joins keep all nodes; least() folds the node's own label in
        neigh = (sym.select("u", F.col("v").alias("node"))
                 .join(labels, "node")
                 .groupBy(F.col("u").alias("node"))
                 .agg(F.min("comp").alias("neigh_min")))
        prop = (labels.join(neigh, "node")
                .select(F.col("node"),
                        F.least(F.col("comp"),
                                F.col("neigh_min")).alias("comp")))
        # path-halving shortcut: comp ← label(comp). Inner join is
        # total (every comp value is a node id present in labels),
        # and label(comp) ≤ comp by monotonicity.
        lut = prop.select(F.col("node").alias("c_node"),
                          F.col("comp").alias("c_comp"))
        return (prop.join(lut, prop.comp == lut.c_node)
                .select("node", F.col("c_comp").alias("comp")))

    try:
        labels = cut(sym.select(F.col("u").alias("node")).distinct()
                     .withColumn("comp", F.col("node")))
        labels, _, converged, _ = iterate(labels, label_propagation,
                                          max_iter, until=_label_sum)
    finally:
        sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iter} rounds")
    return labels
