"""End-to-end lifecycle test: DDL → dimension load → three feeds →
idempotent re-run → FK/PK validation → the reference's documented query
(SURVEY.md §3, README_duckdb.md:78-84)."""

from __future__ import annotations

import json

import pytest

from etl_pipeline_stock_market_data_postgresql_spark.pipeline import StockStore


def _daily_payload(days_prices: dict[str, tuple]) -> str:
    series = {
        day: {"1. open": str(o), "2. high": str(h), "3. low": str(lo),
              "4. close": str(c), "5. volume": str(v)}
        for day, (o, h, lo, c, v) in days_prices.items()
    }
    return json.dumps({"Time Series (Daily)": series})


@pytest.fixture
def store(spark, tmp_path):
    return StockStore(spark, str(tmp_path / "warehouse"))


def test_full_lifecycle(store, spark):
    assert store.ensure_companies(["AAPL", "MSFT"]) == 2
    assert store.ensure_companies(["AAPL", "NVDA"]) == 1  # idempotent dim

    p1 = _daily_payload({
        "2025-12-09": (278.16, 280.03, 276.92, 277.18, 31753410),
        "2025-12-08": (278.13, 279.6693, 276.15, 277.89, 36406317),
    })
    r1 = store.ingest("daily", [("AAPL", p1)])
    assert r1.success and r1.rows_appended == 2

    # overlapping refetch + one new day + one malformed row
    p2 = _daily_payload({
        "2025-12-10": (279.0, 281.0, 278.0, 280.5, 30000000),
        "2025-12-09": (278.16, 280.03, 276.92, 277.18, 31753410),
    })
    p2_dict = json.loads(p2)
    p2_dict["Time Series (Daily)"]["2025-12-11"] = {"1. open": "oops"}
    r2 = store.ingest("daily", [("AAPL", json.dumps(p2_dict))])
    assert r2.rows_appended == 1  # only the new day
    assert r2.rows_quarantined == 1

    # exact re-run is a no-op (the reference's core idempotency property)
    r3 = store.ingest("daily", [("AAPL", p2)])
    assert r3.rows_appended == 0

    table = store.read("daily_stock_prices")
    assert table.count() == 3

    # FK enforcement: unseen symbol is reported and excluded
    r4 = store.ingest("daily", [("GHOST", p1)])
    assert not r4.success and r4.rows_appended == 0

    # API error envelope is rejected, not parsed
    r5 = store.ingest("daily", [("AAPL", json.dumps({"Note": "rate limit"}))])
    assert r5.rejected_payloads == 1 and r5.rows_in == 0

    checks = store.validate()
    assert all(v == 0 for v in checks.values()), checks

    # the reference's one documented analytical query
    table.createOrReplaceTempView("daily_stock_prices")
    top = spark.sql("""
        SELECT company_symbol, date, close_price FROM daily_stock_prices
        WHERE company_symbol = 'AAPL' ORDER BY date DESC LIMIT 10
    """).collect()
    assert [str(r["date"]) for r in top[:2]] == ["2025-12-10", "2025-12-09"]


def test_sma_feed_and_native_recompute(store, spark):
    from decimal import Decimal

    from pyspark.sql import functions as F

    from etl_pipeline_stock_market_data_postgresql_spark.functions.indicators import sma

    store.ensure_companies(["AAPL"])
    closes = {f"2025-12-{d:02d}": (1, 1, 1, float(d), 100) for d in range(1, 11)}
    store.ingest("daily", [("AAPL", _daily_payload(closes))])

    sma_payload = json.dumps({"Technical Analysis: SMA": {
        # API publishes trailing-3 of closes 8,9,10 = 9.0 at 12-10
        "2025-12-10 19:00": {"SMA": "9.0000"},
    }})
    r = store.ingest("sma", [("AAPL", sma_payload)])
    assert r.rows_appended == 1

    # native recompute matches the stored API value at 4 dp
    daily = store.read("daily_stock_prices")
    native = sma(daily, "close_price", "company_symbol", "date", n=3)
    last = (native.filter(F.col("date") == "2025-12-10")
            .select(F.round("sma_value", 4).alias("v")).first())
    assert last["v"] == Decimal("9.0000")


def test_cli_lifecycle_via_run(spark, tmp_path, monkeypatch):
    """The __main__ orchestration end-to-end with the offline transport:
    DDL-free parquet warehouse, dim load, 27-task fetch, 3 ingests,
    validation — and a second run that is a pure idempotent no-op."""
    from etl_pipeline_stock_market_data_postgresql_spark.__main__ import demo_transport, run
    from etl_pipeline_stock_market_data_postgresql_spark.pipeline import PipelineConfig

    cfg = PipelineConfig(warehouse_dir=str(tmp_path / "wh"),
                         symbols=("AAPL", "MSFT", "NVDA"))
    s1 = run(config=cfg, transport=demo_transport, max_workers=4)
    assert s1["new_companies"] == 3
    assert s1["fetch_ok"] == 9 and s1["fetch_failed"] == 0
    assert all(r.success for r in s1["ingests"].values())
    assert all(r.rows_appended == r.rows_in > 0 for r in s1["ingests"].values())
    assert all(v == 0 for v in s1["validation"].values())

    s2 = run(config=cfg, transport=demo_transport, max_workers=4)
    assert s2["new_companies"] == 0
    assert all(r.rows_appended == 0 and r.rows_skipped_existing == r.rows_in
               for r in s2["ingests"].values())
    assert all(v == 0 for v in s2["validation"].values())


# --- one observed write per ingest ------------------------------------------


def _parquet_files(root) -> set[str]:
    return {str(p) for p in root.rglob("*.parquet")}


def _report(r) -> dict:
    return {k: getattr(r, k) for k in (
        "rows_in", "rows_appended", "rows_quarantined",
        "rows_skipped_existing", "rejected_payloads", "errors")}


AAPL_2 = _daily_payload({
    "2025-12-09": (278.16, 280.03, 276.92, 277.18, 31753410),
    "2025-12-08": (278.13, 279.6693, 276.15, 277.89, 36406317),
})


@pytest.mark.parametrize("payloads, expected", [
    ([("AAPL", json.dumps({"Note": "rate limit"}))],
     dict(rows_in=0, rows_appended=0, rows_quarantined=0,
          rows_skipped_existing=0, rejected_payloads=1, errors=[])),
    ([("AAPL", AAPL_2)],
     dict(rows_in=2, rows_appended=0, rows_quarantined=0,
          rows_skipped_existing=2, rejected_payloads=0, errors=[])),
    ([("GHOST", AAPL_2)],
     dict(rows_in=2, rows_appended=0, rows_quarantined=0,
          rows_skipped_existing=0, rejected_payloads=0,
          errors=["2 rows violate FK to companies"])),
    ([], dict(rows_in=0, rows_appended=0, rows_quarantined=0,
              rows_skipped_existing=0, rejected_payloads=0, errors=[])),
], ids=["note_only", "exact_rerun", "fk_only", "no_payloads"])
def test_zero_row_write_keeps_exact_counters(spark, tmp_path, payloads,
                                             expected):
    """When the write's input is empty, AQE drops the observed metrics
    from the final plan. The counters are recounted and equal what one
    count per counter gives, and no parquet file appears."""
    store = StockStore(spark, str(tmp_path / "warehouse"))
    store.ensure_companies(["AAPL"])
    assert store.ingest("daily", [("AAPL", AAPL_2)]).rows_appended == 2
    before = _parquet_files(tmp_path)
    assert _report(store.ingest("daily", payloads)) == expected
    assert _parquet_files(tmp_path) == before
    assert store.read("daily_stock_prices").count() == 2


def test_use_watermark_false_takes_older_absent_day(store):
    """An older day absent from the table is below the watermark: the
    watermark path skips it, the anti-join path appends it, and a re-run
    is a no-op on both paths."""
    store.ensure_companies(["AAPL"])
    days = {"2025-12-10": (1, 2, 0.5, 1.5, 10), "2025-12-12": (2, 3, 1, 2, 20)}
    assert store.ingest("daily", [("AAPL", _daily_payload(days))]).rows_appended == 2
    older = [("AAPL", _daily_payload({"2025-12-11": (3, 4, 2, 3, 30),
                                      "2025-12-12": (9, 9, 9, 9, 90)}))]

    skipped = store.ingest("daily", older)
    assert (skipped.rows_in, skipped.rows_appended,
            skipped.rows_skipped_existing) == (2, 0, 2)
    taken = store.ingest("daily", older, use_watermark=False)
    assert (taken.rows_in, taken.rows_appended,
            taken.rows_skipped_existing) == (2, 1, 1)
    for use_watermark in (False, True):
        again = store.ingest("daily", older, use_watermark=use_watermark)
        assert (again.rows_appended, again.rows_skipped_existing) == (0, 2)

    rows = {str(r["date"]): int(r["volume"])
            for r in store.read("daily_stock_prices").collect()}
    assert rows == {"2025-12-10": 10, "2025-12-11": 30, "2025-12-12": 20}


def test_ensure_companies_known_symbols_one_action(store, tmp_path, actions):
    store.ensure_companies(["AAPL", "MSFT"])
    before = _parquet_files(tmp_path)
    n = []
    assert len(actions(lambda: n.append(
        store.ensure_companies(["MSFT", "AAPL", "MSFT"])))) == 1
    assert n == [0] and _parquet_files(tmp_path) == before


def test_ingest_runs_one_action_the_write(store, tmp_path, actions):
    store.ensure_companies(["AAPL"])
    store.ingest("daily", [("AAPL", AAPL_2)])
    before = _parquet_files(tmp_path)
    payload = _daily_payload({"2025-12-10": (1, 2, 0.5, 1.5, 10)})
    reports = []
    ran = actions(lambda: reports.append(
        store.ingest("daily", [("AAPL", payload), ("AAPL", payload)])))
    assert len(ran) == 1
    assert _report(reports[0]) == dict(
        rows_in=2, rows_appended=1, rows_quarantined=0,
        rows_skipped_existing=1, rejected_payloads=0, errors=[])
    assert len(_parquet_files(tmp_path) - before) == 1


def test_ingest_body_runs_no_action_but_the_write():
    """``ingest`` builds one lazy plan: no counting, caching or result
    fetch in its body (the zero-row recount lives in ``_counts``)."""
    import ast
    import inspect
    import textwrap

    src = textwrap.dedent(inspect.getsource(StockStore.ingest))
    called = {node.func.attr for node in ast.walk(ast.parse(src))
              if isinstance(node, ast.Call)
              and isinstance(node.func, ast.Attribute)}
    assert not called & {"count", "persist", "cache", "first", "collect",
                         "take", "head", "toPandas"}, called
