"""Property-based tests (SURVEY.md §5): random payload batches with
injected duplicates and malformed rows — row counts always equal
distinct new keys, malformed rows always quarantine, re-runs are always
no-ops. Few examples, large batches (Spark per-example cost dominates).
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings, strategies as st

from etl_pipeline_stock_market_data_postgresql_spark.operators import upsert
from etl_pipeline_stock_market_data_postgresql_spark.sources import alpha_vantage as av

_DAYS = st.integers(min_value=1, max_value=28)
_PRICE = st.decimals(min_value="0.0001", max_value="9999", places=4)


@st.composite
def daily_payloads(draw):
    """(payload_json, n_valid_distinct_days, n_malformed)."""
    days = draw(st.lists(_DAYS, min_size=1, max_size=40, unique=True))
    n_malformed = 0
    series = {}
    for d in days:
        malformed = draw(st.booleans()) and draw(st.booleans())  # ~25%
        p = str(draw(_PRICE))
        if malformed:
            n_malformed += 1
            series[f"2025-11-{d:02d}"] = {"1. open": "not-a-number"}
        else:
            series[f"2025-11-{d:02d}"] = {
                "1. open": p, "2. high": p, "3. low": p, "4. close": p,
                "5. volume": str(draw(st.integers(1, 10**9)))}
    return json.dumps({"Time Series (Daily)": series}), len(days) - n_malformed, n_malformed


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(payload=daily_payloads())
def test_parse_partitions_rows_exactly(spark, payload):
    raw_json, n_valid, n_malformed = payload
    raw = av.payloads_df(spark, [("AAPL", raw_json)])
    good, bad = av.parse_daily(raw)
    assert good.count() == n_valid
    assert bad.count() == n_malformed


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(payload=daily_payloads(), dup_factor=st.integers(1, 3))
def test_idempotent_append_yields_distinct_new_keys(spark, payload, dup_factor):
    raw_json, n_valid, _ = payload
    raw = av.payloads_df(spark, [("AAPL", raw_json)] * dup_factor)
    good, _ = av.parse_daily(raw)

    target = good.limit(0)  # empty target with the right schema
    pk = ["company_symbol", "date"]
    delta = upsert.idempotent_append(good, target, pk, time_col="date")
    assert delta.count() == n_valid  # duplicates collapse to distinct keys

    # appending the delta and re-running is a no-op
    rerun = upsert.idempotent_append(good, delta, pk, time_col="date")
    assert rerun.count() == 0


# --- BPE driver-local finalizer vs plain-Python reference ----------------


@st.composite
def word_freq_corpora(draw):
    words = draw(st.lists(
        st.text(alphabet="ab1", min_size=1, max_size=6),
        min_size=1, max_size=12, unique=True))
    return {w: draw(st.integers(min_value=1, max_value=9)) for w in words}


@given(corpus=word_freq_corpora(),
       n_merges=st.integers(min_value=1, max_value=12))
@settings(max_examples=200, deadline=None)
def test_bpe_driver_local_matches_reference(corpus, n_merges):
    """The driver-local finalizer (the below-threshold gate path) must
    match the reference greedy recursion on arbitrary corpora — the
    tiny 'ab1' alphabet maximizes tie and overlap pressure."""
    from etl_pipeline_stock_market_data_postgresql_spark.operators.bpe import (
        SEP, _train_driver_local)

    rows = [{"w": "".join(f"{SEP}{c}{SEP}" for c in w), "freq": f}
            for w, f in corpus.items()]
    got = _train_driver_local(rows, n_merges)

    # reference (same as tests/test_training_ops._py_bpe)
    from collections import Counter
    syms = {w: tuple(w) for w in corpus}
    want = []
    for k in range(n_merges):
        pc = Counter()
        for w, f in corpus.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((k + 1, a, b, a + b, cnt))
        for w in corpus:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)
    assert got == want


# --- StockStore.ingest vs a plain-Python model of the lifecycle -------------

_KNOWN = ("AAPL", "MSFT")


@st.composite
def daily_batches(draw):
    """2-3 successive batches of (symbol, payload_json) with overlapping
    days, one in-batch duplicate payload, malformed rows, one error
    envelope and one payload of a symbol missing from companies."""
    batches = []
    for b in range(draw(st.integers(2, 3))):
        def payload(sym):
            days = draw(st.lists(st.integers(1, 12), min_size=1, max_size=6,
                                 unique=True))
            bad = draw(st.sets(st.sampled_from(days)))
            return sym, json.dumps({"Time Series (Daily)": {
                f"2025-11-{d:02d}": {"1. open": "oops"} if d in bad else {
                    "1. open": f"{b}.{d}", "2. high": "2", "3. low": "1",
                    "4. close": "1.5", "5. volume": str(100 * d + b)}
                for d in days}})
        batch = [payload(sym) for sym in _KNOWN]
        batch.append(batch[draw(st.integers(0, len(_KNOWN) - 1))])
        batch.append((draw(st.sampled_from(_KNOWN)), json.dumps({"Note": "x"})))
        batch.append(payload("GHOST"))
        batches.append(draw(st.permutations(batch)))
    return batches


def _model_ingest(table: dict, batch) -> dict:
    """Insert-if-absent of the rows strictly newer than their symbol's
    stored max date, malformed rows quarantined, FK to ``_KNOWN``."""
    n = dict(rows_in=0, rows_quarantined=0, rejected_payloads=0)
    marks = {}
    for sym, day in table:
        marks[sym] = max(marks.get(sym, day), day)
    delta = {}
    for sym, raw in batch:
        doc = json.loads(raw)
        if "Note" in doc:
            n["rejected_payloads"] += 1
            continue
        for day, metrics in doc["Time Series (Daily)"].items():
            if len(metrics) < 5:
                n["rows_quarantined"] += 1
                continue
            n["rows_in"] += 1
            if day > marks.get(sym, ""):
                delta[(sym, day)] = (metrics["1. open"], metrics["5. volume"])
    fk = sum(sym not in _KNOWN for sym, _ in delta)
    appended = {k: v for k, v in delta.items() if k[0] in _KNOWN}
    table.update(appended)
    return dict(n, rows_appended=len(appended), rows_skipped_existing=(
        n["rows_in"] - len(appended) - fk),
        errors=[f"{fk} rows violate FK to companies"] if fk else [])


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=daily_batches())
def test_ingest_matches_lifecycle_model(spark, tmp_path_factory, batches):
    from etl_pipeline_stock_market_data_postgresql_spark.pipeline import (
        StockStore)

    store = StockStore(spark, str(tmp_path_factory.mktemp("warehouse")))
    store.ensure_companies(list(_KNOWN))
    model = {}
    for batch in batches:
        r = store.ingest("daily", batch)
        got = {k: getattr(r, k) for k in (
            "rows_in", "rows_quarantined", "rejected_payloads",
            "rows_appended", "rows_skipped_existing", "errors")}
        assert got == _model_ingest(model, batch)
    stored = {(r["company_symbol"], r["date"].isoformat()):
              (f"{float(r['open_price']):g}", str(r["volume"]))
              for r in store.read("daily_stock_prices").collect()}
    assert stored == {k: (f"{float(o):g}", v) for k, (o, v) in model.items()}
