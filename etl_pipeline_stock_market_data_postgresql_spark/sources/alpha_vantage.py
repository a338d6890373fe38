"""Alpha-Vantage-shaped JSON payload ingestion (SURVEY.md §2.1 S1-S3, §2.3).

The source abstraction is a semi-structured JSON document: a map of
timestamp-string → map of metric-name-string → numeric-string, under a
well-known top-level key (reference ``main_parallel.py:386-394``).

Design: payloads (fetched driver-side or landed as files) become a
DataFrame of ``(company_symbol, payload_json)`` strings; everything after
that is declarative — ``from_json`` to a MapType, ``explode`` the time
map, project/cast the metric columns. All JVM-side, codegen'd, and
parallel over however many payload files exist (at 100 TB of landed
payloads this is an ordinary partitioned scan + narrow transforms; no
driver loops and no Python UDFs).

Error envelopes (``'Error Message'`` / ``'Note'`` keys,
``main_parallel.py:378-384``) are split out as a rejects DataFrame, and
rows that fail projection/cast land in a quarantine DataFrame instead of
being silently skipped (better observability than the reference's log
lines — SURVEY.md §2.3 P7). Casts are ``try_cast`` — permissive NULL on
failure, never an ANSI runtime error from one malformed row. Both splits
also come in a flagged form (``flag_error_envelopes``, ``parse_flagged``):
one frame with a boolean column, so a caller can count both sides of a
split in the same pass that consumes one of them (``StockStore.ingest``).
"""

from __future__ import annotations

import operator
from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions.timeparse import parse_date, parse_timestamp_multi
from ..schemas import PRICE

# Top-level payload keys per endpoint (reference main_parallel.py:387,390,393).
SERIES_KEYS = {
    "daily": "Time Series (Daily)",
    "intraday": "Time Series (5min)",
    "sma": "Technical Analysis: SMA",
}

# payload: {series_key: {time_str: {metric_name: numeric_string}}}
_PAYLOAD_MAP = T.MapType(
    T.StringType(),
    T.MapType(T.StringType(), T.MapType(T.StringType(), T.StringType())),
)

_OHLCV = [
    ("1. open", "open_price", PRICE),
    ("2. high", "high_price", PRICE),
    ("3. low", "low_price", PRICE),
    ("4. close", "close_price", PRICE),
    ("5. volume", "volume", "long"),
]


def payloads_df(spark: SparkSession, payloads: list[tuple[str, str]]) -> DataFrame:
    """Driver-fetched (symbol, raw_json) pairs → DataFrame. At scale,
    replace with ``spark.read.text`` / ``spark.read.json`` over landed
    payload files — the downstream plan is identical.

    The pairs go in as one Arrow table, which Spark plans as a
    ``LocalRelation``; a Python list would be a PythonRDD, one Python
    worker task per partition on every evaluation."""
    symbols, jsons = zip(*payloads) if payloads else ((), ())
    table = pa.table({"company_symbol": pa.array(symbols, pa.string()),
                      "payload_json": pa.array(jsons, pa.string())})
    return spark.createDataFrame(table, "company_symbol string, payload_json string")


# Boolean flag columns of the flagged forms below.
ERROR = "_is_error"
BAD = "_quarantined"


def flag_error_envelopes(raw: DataFrame) -> DataFrame:
    """``raw`` plus the :data:`ERROR` flag: the payload's JSON carries an
    'Error Message' or 'Note' key, an API failure or rate-limit notice
    (reference S3)."""
    keys = F.map_keys(
        F.from_json("payload_json", T.MapType(T.StringType(), T.StringType()))
    )
    return raw.withColumn(ERROR, F.coalesce(
        F.arrays_overlap(keys, F.array(F.lit("Error Message"), F.lit("Note"))),
        F.lit(False),
    ))


def split(flagged: DataFrame, flag: str) -> tuple[DataFrame, DataFrame]:
    """(rows without ``flag``, rows with it), the flag column dropped."""
    return (flagged.filter(~F.col(flag)).drop(flag),
            flagged.filter(F.col(flag)).drop(flag))


def split_error_envelopes(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ok, rejected) payloads: :func:`flag_error_envelopes`, split."""
    return split(flag_error_envelopes(raw), ERROR)


def _exploded_series(raw: DataFrame, endpoint: str) -> DataFrame:
    """Select the endpoint's time-series subtree and explode the
    time→metrics map into (symbol, time_str, metrics) rows (S2 + P1).
    A missing/empty subtree explodes to zero rows — the reference's
    payload-presence guard (F3) for free."""
    series_key = SERIES_KEYS[endpoint]
    parsed = raw.select(
        "company_symbol",
        F.from_json("payload_json", _PAYLOAD_MAP).alias("doc"),
    )
    return parsed.select(
        "company_symbol",
        F.explode(F.element_at("doc", F.lit(series_key))).alias("time_str", "metrics"),
    )


# endpoint -> (time column, time parser, [(metric key, column, type)]);
# metric keys cited at reference ``main_parallel.py:271-275``, ``:291-362``
_LAYOUT = {
    "daily": ("date", parse_date, _OHLCV),
    "intraday": ("date_time", parse_timestamp_multi, _OHLCV),
    "sma": ("date_time", parse_timestamp_multi, [("SMA", "sma_value", PRICE)]),
}


def parse_flagged(raw: DataFrame, endpoint: str) -> DataFrame:
    """The endpoint's payloads → rows of its table's schema plus the
    :data:`BAD` flag. Casts are permissive, so a NULL in any output
    column means a missing metric key or an unparseable numeric/time
    string: the row is flagged for quarantine (reference KeyError /
    ValueError skip path, ``main_parallel.py:277-278``, ``:352-353``)."""
    time_col, parse_time, metrics = _LAYOUT[endpoint]
    rows = _exploded_series(raw, endpoint).select(
        "company_symbol", parse_time(F.col("time_str")).alias(time_col),
        *[F.element_at("metrics", F.lit(key)).try_cast(typ).alias(col)
          for key, col, typ in metrics])
    return rows.withColumn(BAD, reduce(
        operator.or_, [F.col(c).isNull() for c in rows.columns[1:]]))


def parse_daily(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Daily OHLCV payloads → (rows matching schemas.DAILY_STOCK_PRICES,
    quarantine)."""
    return split(parse_flagged(raw, "daily"), BAD)


def parse_intraday(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Intraday 5-minute OHLCV payloads (reference ``main_parallel.py:291-325``)."""
    return split(parse_flagged(raw, "intraday"), BAD)


def parse_sma(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """SMA indicator payloads (reference ``main_parallel.py:328-362``),
    including the 'yyyy-MM-dd HH:mm' timestamps the reference cannot parse
    (evidence ``etl_log.log:5136``)."""
    return split(parse_flagged(raw, "sma"), BAD)
