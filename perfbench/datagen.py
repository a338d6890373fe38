"""Seeded input generators.

``write_tables`` writes the ten warehouse tables the analytics and
iterative queries read (TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), one parquet file each, with the
column types, key domains and value sets of the project's reference
test data. ``AlphaVantageFeed`` produces the JSON payloads of the
incremental-load workload, and keeps the ground truth the benchmark
checks the loaded tables against.

Both depend only on the seed they are given.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_WORDS = ("spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch", "b")
_COLORS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(44, 578, n)
    words = np.array(_WORDS)
    texts = []
    for ln in lengths:
        toks = words[rng.integers(0, len(words), ln // 3 + 2)]
        texts.append(" ".join(toks)[:ln].rstrip())
    # a few exact and near duplicates, so the dedup operators have
    # clusters to find
    for i in rng.choice(n, max(2, n // 50), replace=False):
        j = int(rng.integers(0, n))
        if rng.random() < 0.5:
            texts[i] = texts[j]
        else:
            toks = texts[j].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
            texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, ["en", "zh", "es", "fr", "de"], n,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7001])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(100, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{c} {n}" for c in _COLORS for n in _NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1),
                             dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2),
                            dt.date(2001, 11, 4))})
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n_evt)])})
    t["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group,
    like the reference data); returns name -> row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows


# --- Alpha Vantage payloads -------------------------------------------

SYMBOLS = ("AAPL", "IBM", "MSFT", "GOOGL", "AMZN", "TSLA", "NVDA", "NFLX",
           "INTC", "META")
ENDPOINTS = ("daily", "intraday", "sma")
_SERIES_KEY = {"daily": "Time Series (Daily)",
               "intraday": "Time Series (5min)",
               "sma": "Technical Analysis: SMA"}


class AlphaVantageFeed:
    """Batches of Alpha Vantage payloads for every symbol and endpoint.

    Batch ``b`` delivers ``bars`` new bars per (symbol, endpoint) and
    re-delivers the last ``redeliver`` bars of batch ``b-1``; a share
    of the re-delivered bars carry restated values. Roughly 1% of the
    new bars have a malformed metric string, and a few payloads are
    ``"Note"`` rate-limit envelopes (their bars are sent again in the
    next batch, as a client retrying would).

    Ground truth, per endpoint: ``loaded`` maps (symbol, time) to the
    first-delivered values of every well-formed bar (what an
    insert-if-absent table keeps), ``truth`` to the latest-delivered
    ones (what a table that merges restatements keeps).
    """

    BARS = 60             # new bars per (symbol, endpoint) and batch
    REDELIVER = 12        # bars of the previous batch sent again
    RESTATE_SHARE = 0.25  # share of re-delivered bars with new values
    MALFORMED_SHARE = 0.01
    NOTES_PER_BATCH = 1   # "Note" envelopes per batch after the first

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 9001])
        self.batch_no = 0
        self.cursor = {(s, e): 0 for s in SYMBOLS for e in ENDPOINTS}
        self.price = {s: 50.0 + 400.0 * self.rng.random() for s in SYMBOLS}
        self.last_sent: dict[tuple[str, str], list[int]] = {}
        self.truth: dict[str, dict[tuple, tuple]] = {e: {} for e in ENDPOINTS}
        self.loaded: dict[str, dict[tuple, tuple]] = {e: {} for e in ENDPOINTS}

    @staticmethod
    def _time_of(endpoint: str, i: int):
        if endpoint == "daily":
            return dt.date(2015, 1, 5) + dt.timedelta(days=i)
        step = 5 if endpoint == "intraday" else 60
        return dt.datetime(2024, 1, 2, 9, 30) + dt.timedelta(minutes=step * i)

    @staticmethod
    def _time_str(endpoint: str, t) -> str:
        if endpoint == "daily":
            return t.isoformat()
        fmt = "%Y-%m-%d %H:%M:%S" if endpoint == "intraday" else "%Y-%m-%d %H:%M"
        return t.strftime(fmt)

    def _bar(self, sym: str, endpoint: str):
        p = self.price[sym] = max(1.0, self.price[sym]
                                  * (1 + 0.01 * self.rng.standard_normal()))
        if endpoint == "sma":
            return (Decimal(f"{p:.4f}"),)
        o, c = p, p * (1 + 0.004 * self.rng.standard_normal())
        hi = max(o, c) * (1 + 0.003 * self.rng.random())
        lo = min(o, c) * (1 - 0.003 * self.rng.random())
        vol = int(self.rng.integers(100_000, 60_000_000))
        return tuple(Decimal(f"{x:.4f}") for x in (o, hi, lo, c)) + (vol,)

    @staticmethod
    def _metrics(endpoint: str, vals) -> dict[str, str]:
        if endpoint == "sma":
            return {"SMA": str(vals[0])}
        keys = ("1. open", "2. high", "3. low", "4. close", "5. volume")
        return {k: str(v) for k, v in zip(keys, vals)}

    def next_batch(self) -> dict:
        """The next batch, per endpoint: ``payloads`` is a list of
        (symbol, json) pairs, ``expected`` the counters the ingest must
        report, ``new_rows`` the rows it must append, ``restated`` the
        re-delivered rows with new values and ``previous`` their old
        values."""
        b = self.batch_no
        self.batch_no += 1
        notes = set()
        if b > 0:  # the first batch must create every table
            pairs = [(s, e) for s in SYMBOLS for e in ENDPOINTS]
            for k in self.rng.choice(len(pairs), self.NOTES_PER_BATCH,
                                     replace=False):
                notes.add(pairs[int(k)])
        out = {"payloads": {e: [] for e in ENDPOINTS},
               "expected": {e: dict(rows_in=0, rows_appended=0,
                                    rows_quarantined=0,
                                    rows_skipped_existing=0,
                                    rejected_payloads=0)
                            for e in ENDPOINTS},
               "new_rows": {e: [] for e in ENDPOINTS},
               "restated": {e: [] for e in ENDPOINTS},
               "previous": {e: {} for e in ENDPOINTS}}
        for sym in SYMBOLS:
            for ep in ENDPOINTS:
                key = (sym, ep)
                exp = out["expected"][ep]
                if key in notes:
                    out["payloads"][ep].append((sym, json.dumps(
                        {"Note": "API call frequency exceeded; retry later"})))
                    exp["rejected_payloads"] += 1
                    continue
                start = self.cursor[key]
                series = {}
                replay = self.last_sent.get(key, [])[-self.REDELIVER:]
                for i in replay:
                    t = self._time_of(ep, i)
                    vals = self.loaded[ep].get((sym, t))
                    if vals is None:  # was malformed last time
                        continue
                    if self.rng.random() < self.RESTATE_SHARE:
                        out["previous"][ep][(sym, t)] = vals
                        vals = self._bar(sym, ep)
                        out["restated"][ep].append((sym, t) + vals)
                        self.truth[ep][(sym, t)] = vals
                    series[self._time_str(ep, t)] = self._metrics(ep, vals)
                    exp["rows_in"] += 1
                    exp["rows_skipped_existing"] += 1
                sent = []
                for i in range(start, start + self.BARS):
                    t = self._time_of(ep, i)
                    vals = self._bar(sym, ep)
                    metrics = self._metrics(ep, vals)
                    if self.rng.random() < self.MALFORMED_SHARE:
                        name = next(iter(metrics))
                        metrics[name] = metrics[name].replace(".", ",", 1) + "x"
                        exp["rows_quarantined"] += 1
                    else:
                        exp["rows_in"] += 1
                        exp["rows_appended"] += 1
                        self.truth[ep][(sym, t)] = vals
                        self.loaded[ep][(sym, t)] = vals
                        out["new_rows"][ep].append((sym, t) + vals)
                    series[self._time_str(ep, t)] = metrics
                    sent.append(i)
                self.cursor[key] = start + self.BARS
                self.last_sent[key] = sent
                out["payloads"][ep].append(
                    (sym, json.dumps({_SERIES_KEY[ep]: series})))
        return out
