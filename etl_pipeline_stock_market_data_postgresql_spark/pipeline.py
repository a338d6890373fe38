"""End-to-end ETL lifecycle — the Spark-native re-expression of the
reference's ``main_parallel.py::main()`` (SURVEY.md §3.1):

reference stage                      → here
1. config from env                   → PipelineConfig.from_env
2. connection pool                   → (none — Spark session)
3. CREATE TABLE IF NOT EXISTS ×4     → StockStore.ensure_tables (parquet dirs)
4. dimension load (companies first)  → ensure_companies: one collect of the
                                        stored symbols, a write of the
                                        unseen ones only
5-7. per-(symbol,endpoint) fetch →
   parse → watermark-skip → batch
   insert ON CONFLICT DO NOTHING     → ingest(): one lazy plan, one action
                                        (the append write): envelope
                                        split → parse_flagged quarantine
                                        split → strict watermark filter →
                                        in-batch PK dedup → broadcast FK
                                        flag → append (operators.upsert)
8. per-task result envelope + summary→ IngestReport per call, its counters
                                        observed on that one write

Differences by design (intent over buggy letter, SURVEY.md §7.3): loads
are order-independent (no reliance on API descending order), malformed
rows are split off and counted instead of logged, and the watermark is
read for all symbols in one grouped aggregation, which runs as a stage
inside the append write. Every fact table's PK is exactly (symbol,
time), so a row newer than its symbol's watermark cannot already be
stored: under the watermark, in-batch dedup alone makes the append
idempotent. ``use_watermark=False`` keeps the time-pruned anti-join
(``upsert.idempotent_append``), which also takes older absent rows.

Storage: one parquet dataset per table, fact tables partitioned by
``company_symbol`` (every reference read filters on symbol — SURVEY §4),
so watermark reads and symbol scans prune to single partitions at any
scale.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import schemas
from .operators import upsert
from .session import local_frame
from .sources import alpha_vantage as av

_TABLES = {
    "daily": "daily_stock_prices",
    "intraday": "intraday_stock_prices",
    "sma": "sma_indicators",
}
_WM_KEYS = ["company_symbol"]  # the watermark's grouping


def _observed(counters: list, df: DataFrame, **flags) -> DataFrame:
    """``df`` observed with the number of rows where each boolean flag
    holds; ``counters`` keeps the observation and what to recount."""
    exprs = [F.count_if(flag).alias(name) for name, flag in flags.items()]
    obs = Observation()
    counters.append((obs, df, exprs))
    return df.observe(obs, *exprs)


def _counts(counters: list) -> dict[str, int]:
    """The observed counters of the action that ran. AQE's empty-relation
    propagation drops ``CollectMetricsExec`` from the final plan when it
    proves the write's input empty, and ``get`` on a lost observation
    raises. Nothing was written then, so recounting the same plans in one
    aggregate is exact; no other path runs it."""
    try:
        return {k: v for obs, _, _ in counters for k, v in obs.get.items()}
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.lang.AssertionError":
            raise
        aggs = [df.agg(*exprs) for _, df, exprs in counters]
        return reduce(DataFrame.crossJoin, aggs).first().asDict()


@dataclass
class PipelineConfig:
    """Mirrors the reference's env-driven config (dataclasses at
    ``main_parallel.py:33-73``); DB coordinates are used only by the
    optional JDBC sink."""
    warehouse_dir: str = "./stock_warehouse"
    symbols: tuple[str, ...] = ("AAPL", "IBM", "MSFT", "GOOGL", "AMZN",
                                "TSLA", "NVDA", "NFLX", "INTC")
    jdbc_url: str | None = None

    @classmethod
    def from_env(cls) -> "PipelineConfig":
        return cls(
            warehouse_dir=os.environ.get("STOCK_WAREHOUSE_DIR", "./stock_warehouse"),
            jdbc_url=os.environ.get("STOCK_JDBC_URL") or None,
        )


@dataclass
class IngestReport:
    """Per-ingest result envelope (reference X5, ``main_parallel.py:365-403``)."""
    table: str
    rows_in: int = 0
    rows_appended: int = 0
    rows_quarantined: int = 0
    rows_skipped_existing: int = 0
    rejected_payloads: int = 0
    errors: list[str] = field(default_factory=list)

    @property
    def success(self) -> bool:
        return not self.errors


class StockStore:
    """Parquet-backed managed tables with the reference's PK semantics
    enforced at the sink (idempotent anti-join append)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        # fact tables are partitioned: data files live under
        # company_symbol=<sym>/ subdirectories, so walk recursively
        for _, _, files in os.walk(self.path(table)):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, table: str) -> DataFrame:
        if not self.exists(table):
            return local_frame(self.spark, [], schemas.TABLES[table])
        return self.spark.read.schema(schemas.TABLES[table]).parquet(self.path(table))

    def append(self, table: str, df: DataFrame) -> None:
        if table != "companies":
            # One shuffle partition per symbol hash, sorted by
            # (symbol, time): the writer finds rows already grouped by
            # its partition column — no writer-side (non-stable!) resort
            # to scramble the time order — and emits one file per symbol
            # per append instead of one per task×symbol. Parquet min/max
            # stats on the time column then make watermark reads and
            # time-range scans metadata-cheap (SURVEY.md §4). If one
            # symbol ever dominates a batch, salt the repartition.
            time_col = schemas.TIME_COLUMNS[table]
            df = (df.repartition("company_symbol")
                  .sortWithinPartitions("company_symbol", time_col))
            df.write.mode("append").partitionBy("company_symbol").parquet(
                self.path(table))
        else:
            df.write.mode("append").parquet(self.path(table))

    # --- lifecycle -------------------------------------------------

    def ensure_companies(self, symbols: list[str]) -> int:
        """Dimension-first upsert (reference K4, ``ensure_company_exists``
        ``main_parallel.py:221-227``): insert unseen symbols only. One
        collect of the stored symbols; a write only when one is new."""
        seen = {r[0] for r in self.read("companies").collect()}
        new = sorted(set(symbols) - seen)
        if new:
            self.append("companies", local_frame(
                self.spark, [(s,) for s in new], schemas.COMPANIES))
        return len(new)

    def ingest(self, endpoint: str, payloads: list[tuple[str, str]],
               use_watermark: bool = True) -> IngestReport:
        """Full ingest of (symbol, raw_json) payloads for one endpoint:
        one lazy plan and one action, the append write. Every counter
        rides that write as an observed metric at the split it counts."""
        table = _TABLES[endpoint]
        pk, time_col = schemas.PRIMARY_KEYS[table], schemas.TIME_COLUMNS[table]
        counters = []
        raw = _observed(counters, av.flag_error_envelopes(
            av.payloads_df(self.spark, payloads)),
            rejected_payloads=F.col(av.ERROR))
        rows = _observed(counters, av.parse_flagged(
            raw.filter(~F.col(av.ERROR)), endpoint),
            rows_in=~F.col(av.BAD), rows_quarantined=F.col(av.BAD))
        batch, _ = av.split(rows, av.BAD)

        target = self.read(table)
        if use_watermark:
            wm = upsert.read_watermarks(target, _WM_KEYS, time_col)
            batch = upsert.filter_newer_than_watermark(
                batch, wm, _WM_KEYS, time_col)
        # a row newer than its symbol's max time cannot share a stored PK
        # when the PK is exactly (symbol, time): no anti-join needed
        if use_watermark and pk == _WM_KEYS + [time_col]:
            delta = upsert.dedup_within_batch(batch, pk)
        else:
            delta = upsert.idempotent_append(batch, target, pk, time_col=time_col)

        # FK check before append (reference loads companies first and
        # relies on the DB FK; we validate explicitly). The dimension is
        # PK-unique (ensure_companies), so the left join keeps rows 1:1.
        known = self.read("companies").withColumn("_orphan", F.lit(False))
        flagged = _observed(counters, delta.join(
            F.broadcast(known), "company_symbol", "left"
        ).fillna(True, ["_orphan"]), fk_violations=F.col("_orphan"),
            rows_appended=~F.col("_orphan"))
        self.append(table, flagged.filter(~F.col("_orphan")).drop("_orphan"))

        n = _counts(counters)
        fk = n.pop("fk_violations")
        report = IngestReport(table=table, rows_skipped_existing=(
            n["rows_in"] - n["rows_appended"] - fk), **n)
        if fk:
            report.errors.append(f"{fk} rows violate FK to companies")
        return report

    def validate(self) -> dict[str, int]:
        """Post-load integrity: FK containment per fact table (J2) and
        PK uniqueness (must both be zero)."""
        out = {}
        companies = self.read("companies")
        for table, (fk_cols, _) in schemas.FOREIGN_KEYS.items():
            out[f"{table}_fk_violations"] = upsert.validate_foreign_key(
                self.read(table), companies, fk_cols).count()
        for table, pk in schemas.PRIMARY_KEYS.items():
            df = self.read(table)
            out[f"{table}_pk_duplicates"] = (
                df.groupBy(*pk).count().filter(F.col("count") > 1).count())
        return out
