"""The fixture/timing boundary.

Many gated queries read FIXTURE state — derived tables, versioned-store
mutation chains, stream feeds, input-derived bounds — built once per
(SF, input state) under the per-SF scratch root. Every one of them goes
through ONE primitive, ``sources.derived_cache.fixture(sf_dir, name,
fingerprint, build) -> (root, bounds)``, whose contract is the whole
staleness rule:

- one fixture owns exactly one directory, ``scratch_base(sf_dir)/name``
  (checkpoints, feeds, tx logs and clone targets nest under it);
- it is current only when ``_INPUT_FINGERPRINT`` equals the input
  fingerprint, ``_BOUNDS`` parses, and — when the bounds list the
  fixture's parquet ``files`` (two-delivery feeds) — each listed
  directory holds exactly those files;
- when stale: remove the directory, ``build(root)``, write ``_BOUNDS``
  (temp file + rename), then the fingerprint LAST, so a crash anywhere
  leaves the fixture stale and the next call rebuilds it.

(The shared derived tables — trade edges, the dedup signature index,
the ANN model — use ``derived_cache.cached_parquet``, which applies the
same fingerprint rule but publishes by atomic rename for concurrent
readers.) Each builder below is therefore idempotent: warm calls cost
file reads only, so query functions stay standalone-correct (gate and
oracle runs call them inline).

``bench.py`` calls :func:`build_fixtures` once, UNTIMED, before the
timed loop and reports the phase separately (``fixture_build_sec`` +
cold/warm state), so the timed region is pure query compute regardless
of scratch state. This is fixture construction, not result caching:
every declared query still computes its RESULT from its inputs on every
run, and the oracle revalidates that result each run.
"""

from __future__ import annotations

import sys
import time
from collections.abc import Callable

from pyspark.sql import SparkSession


def fixture_builders() -> dict[str, Callable[[SparkSession, str], object]]:
    """Name → idempotent fixture builder (``derived_cache.fixture`` or
    ``cached_parquet`` underneath). Listed dependency-first so a cold
    scratch builds each shared fixture exactly once under its own label
    — builders also ensure their own dependencies, so ordering is
    cosmetic for correctness."""
    from . import relational, similarity, storage, streaming_exec, text_dedup

    def ann_base_model(spark: SparkSession, sf_dir: str) -> None:
        from ..sources.tables import load

        mx = similarity._emb_vec_max(spark, sf_dir)
        vecs = similarity._spread_vectors(
            spark, load(spark, sf_dir, "embeddings")).persist()
        try:
            similarity._ivfpq_base_index(spark, sf_dir, vecs, (2 * mx) // 3)
        finally:
            vecs.unpersist()

    return {
        # shared derived tables (graph edges, dedup index, ANN model)
        "trade_edges": relational._trade_edges,
        "corpus0_sig_index": text_dedup.corpus0_signature_index,
        "emb_vec_max": similarity._emb_vec_max,
        "ann_base_model": ann_base_model,
        "ann_store": similarity._ann_store_materialized,
        "ann_store_gc": similarity._ensure_ann_gc_store,
        "ann_versioned": similarity._ann_versioned_root,
        "ann_retrain": similarity._ann_retrain_root,
        # streaming feeds / seed stores
        "q106_feed": streaming_exec._ensure_q106_feed,
        "q122_seed": streaming_exec._ensure_q122_seed,
        "q140_feed": streaming_exec._ensure_q140_feed,
        # versioned-store mutation chains
        "q147_store": storage._ensure_q147,
        "q148_store": storage._ensure_q148,
        "cdf_chain": storage._cdf_chain_root,      # q150 + q152
        "q151_store": storage._ensure_q151,
        "q153_store": storage._ensure_q153,
        "q154_store": storage._ensure_q154,
        "q157_store": storage._ensure_q157,
        "q158_store": storage._ensure_q158,
        "q159_store": storage._ensure_q159,
        "q160_store": storage._ensure_q160,
        "q161_store": storage._ensure_q161,
        "q162_store": storage._ensure_q162,
        "q163_store": storage._ensure_q163,
        "q164_store": storage._ensure_q164,
        "q165_store": storage._ensure_q165,
        "q166_store": storage._ensure_q166,
        "q167_store": storage._ensure_q167,
        "q168_store": storage._ensure_q168,
        "q169_store": storage._ensure_q169,
        "q170_store": storage._ensure_q170,
        "q171_store": storage._ensure_q171,
        "q172_store": storage._ensure_q172,
        "cdf_range": storage._cdf_range_root,      # q173 + q175
        "q174_store": storage._ensure_q174,
    }


def build_fixtures(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Run every fixture builder once; returns name → seconds. Warm
    fixtures cost milliseconds (fingerprint stat checks); cold ones
    pay their build here instead of inside a timed query."""
    timings: dict[str, float] = {}
    for name, fn in fixture_builders().items():
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir)
        except Exception as ex:  # the owning query will build inline
            print(f"  fixture {name} failed (query builds inline): {ex}",
                  file=sys.stderr)
        timings[name] = round(time.perf_counter() - t0, 4)
    return timings
