"""Generic relational query surface (SURVEY.md §2.5-§2.8 + §7.1 step 7).

The reference outsources all querying to PostgreSQL/DuckDB; these queries
prove the engine owns that delegated surface: multi-way joins,
aggregation, windowed top-n, set operations, rollup, pivot-style
conditional aggregation, distinct aggregates, and the as-of join.

Scale notes: dimension joins (region/nation/customer/supplier) are
broadcast (Catalyst auto-broadcasts under the configured threshold);
fact-fact joins shuffle on the join key and AQE handles skew; double
sums go through DECIMAL so results are shuffle-order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import Query
from ..operators.asof import asof_join_union
from ..sources.tables import load

_DEC = "decimal(24,8)"


def _revenue_dec(price_col: str = "l_extendedprice", disc_col: str = "l_discount"):
    return (F.col(price_col) * (F.lit(1.0) - F.col(disc_col))).cast(_DEC)


def q11_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation; only 7 of 11
    lineitem columns are read (check ReadSchema) and the shipdate filter
    is pushed to parquet."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc_price = _revenue_dec()
    charge = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
              * (F.lit(1.0) + F.col("l_tax"))).cast(_DEC)
    return (li.filter(F.col("l_shipdate") <= F.lit("1999-01-01").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(qty).cast("double").alias("sum_qty"),
                 F.sum(price).cast("double").alias("sum_base_price"),
                 F.sum(disc_price).cast("double").alias("sum_disc_price"),
                 F.sum(charge).cast("double").alias("sum_charge"),
                 (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
                 (F.sum(disc_price).cast("double") / F.count("*")).alias("avg_price"),
                 F.count("*").alias("count_order")))


_Q11_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,8))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-01-01'
GROUP BY l_returnflag, l_linestatus
"""


def q12_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (broadcast customer), grouped revenue,
    top-10 with deterministic tiebreak."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-07-01").cast("timestamp"))
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
    return (joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(_revenue_dec()).cast("double").alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


_Q12_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_shipdate > TIMESTAMP '1996-07-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q13_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join across all six relational tables;
    the dimension chain (region→nation→customer/supplier) broadcasts."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load(spark, sf_dir, "lineitem")
    joined = (li
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(supp),
                    (li.l_suppkey == supp.s_suppkey)
                    & (cust.c_nationkey == supp.s_nationkey))
              .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
              .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey))
    return (joined.groupBy("n_name")
            .agg(F.sum(_revenue_dec()).cast("double").alias("revenue")))


_Q13_SQL = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q14_group_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price per priority: windowed row_number,
    the standard top-k-per-group plan (rank pushdown via window group
    limit in recent Spark)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn"))


_Q14_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q15_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.8): (1995 buyers ∩ 1996 buyers) ∪
    (high-balance customers ∖ 1995 buyers). All distinct semantics."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    buyers_95 = (orders.filter(F.year("o_orderdate") == 1995)
                 .select("o_custkey").withColumnRenamed("o_custkey", "custkey").distinct())
    buyers_96 = (orders.filter(F.year("o_orderdate") == 1996)
                 .select("o_custkey").withColumnRenamed("o_custkey", "custkey").distinct())
    rich = (cust.filter(F.col("c_acctbal") > 5000)
            .select(F.col("c_custkey").alias("custkey")).distinct())
    return buyers_95.intersect(buyers_96).union(rich.subtract(buyers_95)).distinct()


_Q15_SQL = """
(SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
 INTERSECT
 SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996)
UNION
(SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
 EXCEPT
 SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995)
"""


def q52_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) semantics: UNION ALL / INTERSECT ALL / EXCEPT ALL
    preserve duplicate multiplicities — the other half of the set-op
    surface next to q15's distinct variants."""
    orders = load(spark, sf_dir, "orders")
    a = (orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
         .select(F.col("o_custkey").alias("custkey")))
    b = (orders.filter(F.col("o_orderstatus") == "O")
         .select(F.col("o_custkey").alias("custkey")))
    both = a.intersectAll(b)
    only_a = a.exceptAll(b)
    combined = both.withColumn("src", F.lit("both")).unionAll(
        only_a.withColumn("src", F.lit("only_early")))
    return combined.groupBy("custkey", "src").agg(F.count("*").alias("n"))


_Q52_SQL = """
WITH a AS (SELECT o_custkey AS custkey FROM orders
           WHERE o_orderdate < TIMESTAMP '1997-01-01'),
b AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'),
combined AS (
  SELECT custkey, 'both' AS src FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
  UNION ALL
  SELECT custkey, 'only_early' AS src FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
)
SELECT custkey, src, count(*) AS n FROM combined GROUP BY custkey, src
"""


def q16_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (priority, status): subtotal + grand-total rows with
    NULL group keys, exactly the SQL semantics."""
    orders = load(spark, sf_dir, "orders")
    return (orders.rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count("*").alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                 .cast("double").alias("sum_total")))


_Q16_SQL = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q17_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (portable to ANSI SQL, unlike
    PIVOT syntax): one row per priority, one column per order status."""
    orders = load(spark, sf_dir, "orders")

    def n_status(s: str):
        return F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0))

    def sum_status(s: str):
        return (F.sum(F.when(F.col("o_orderstatus") == s,
                             F.col("o_totalprice").cast("decimal(18,4)")))
                .cast("double"))

    return (orders.groupBy("o_orderpriority")
            .agg(n_status("O").alias("n_open"),
                 n_status("F").alias("n_finished"),
                 n_status("P").alias("n_pending"),
                 sum_status("O").alias("total_open"),
                 sum_status("F").alias("total_finished"),
                 sum_status("P").alias("total_pending")))


_Q17_SQL = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS total_open,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS total_finished,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS total_pending
FROM orders GROUP BY o_orderpriority
"""


def q18_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregates (COUNT DISTINCT expands to a two-phase
    aggregate; the partial phase is map-side)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_orderkey").alias("n_orders"),
                 F.countDistinct("l_suppkey").alias("n_suppliers"),
                 F.count("*").alias("n_rows")))


_Q18_SQL = """
SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_suppkey) AS n_suppliers, count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def q19_having_heavy_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING + dimension join-back: customers with ≥ 15
    orders (the reference's COUNT-existence check, generalized)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    heavy = (orders.groupBy("o_custkey")
             .agg(F.count("*").alias("n_orders"),
                  F.max("o_orderdate").alias("last_order"))
             .filter(F.col("n_orders") >= 15))
    return (heavy.join(F.broadcast(cust), heavy.o_custkey == cust.c_custkey)
            .select("c_custkey", "c_name", "n_orders", "last_order"))


_Q19_SQL = """
SELECT c_custkey, c_name, count(*) AS n_orders, max(o_orderdate) AS last_order
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name HAVING count(*) >= 15
"""


def q20_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest strictly
    earlier click (operators.asof — union + window, single shuffle, no
    range cross-product)."""
    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join_union(purchases, clicks, ["user_id"], "ts", "ts",
                          right_value_cols=["ts"], strict=True)
    return out.select("event_id", "user_id", "ts",
                      F.col("asof_ts").alias("last_click_ts"))


_Q20_SQL = """
SELECT p.event_id, p.user_id, p.ts,
       (SELECT max(c.ts) FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts < p.ts)
       AS last_click_ts
FROM events p WHERE p.event_type = 'purchase'
"""


def q87_full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation between the order header and its
    recomputed line-level total — the data-quality audit that finds
    headers without lines, orphan lines, and price drift, in one pass.

    Scale shape: the line aggregate and the full-outer join shuffle on
    the same orderkey, so the exchange is reused; the mismatch test
    runs on exact DECIMAL sums cast to double at the very end (repo
    determinism convention), and the output is one summary row."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    charge = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
              * (F.lit(1.0) + F.col("l_tax"))).cast(_DEC)
    l = (load(spark, sf_dir, "lineitem")
         .groupBy("l_orderkey")
         .agg(F.sum(charge).cast("double").alias("computed_total")))
    j = o.join(l, o["o_orderkey"] == l["l_orderkey"], "full_outer")
    has_o = F.col("o_orderkey").isNotNull()
    has_l = F.col("l_orderkey").isNotNull()
    mism = F.abs(F.col("computed_total") - F.col("o_totalprice")) > 0.01
    return j.agg(
        F.count(F.when(has_o & has_l, 1)).alias("n_matched"),
        F.count(F.when(has_o & ~has_l, 1)).alias("n_order_only"),
        F.count(F.when(~has_o & has_l, 1)).alias("n_lineitem_only"),
        F.count(F.when(has_o & has_l & mism, 1)).alias("n_price_mismatch"))


_Q87_SQL = """
WITH l AS (
  SELECT l_orderkey,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                       AS DECIMAL(24,8))) AS DOUBLE) AS computed_total
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderkey, o.o_totalprice, l.l_orderkey, l.computed_total
  FROM orders o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
)
SELECT count(*) FILTER (WHERE o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL)
         AS n_matched,
       count(*) FILTER (WHERE o_orderkey IS NOT NULL AND l_orderkey IS NULL)
         AS n_order_only,
       count(*) FILTER (WHERE o_orderkey IS NULL AND l_orderkey IS NOT NULL)
         AS n_lineitem_only,
       count(*) FILTER (WHERE o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL
                        AND abs(computed_total - o_totalprice) > 0.01)
         AS n_price_mismatch
FROM j
"""


# --- q100: single-pass table profiling ---------------------------------

_PROFILE_COLS = (
    # (name, kind) — kind picks the min/max string rendering
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
)
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def _fmt_spark(col, kind: str):
    """Engine-pinned string rendering of a min/max Column."""
    if kind == "num":
        return col.cast("decimal(18,4)").cast("string")
    if kind == "ts":
        return F.date_format(col, _TS_FMT_SPARK)
    return col.cast("string")


def q100_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling — per-column row count, null
    count, exact distinct count, and min/max — the stats pass every
    warehouse runs before planning and every data pipeline runs as an
    arrival audit. One row per profiled column, uniform schema (min/max
    rendered to strings with explicit, engine-pinned formats: DECIMAL
    for doubles, a fixed microsecond pattern for timestamps — never the
    engines' default float/timestamp casts, which disagree).

    Scale shape: TWO pruned passes, deliberately split by aggregate
    buffer type. Counts, distincts, and numeric/timestamp min/max fold
    into one hash aggregate whose multi-column COUNT(DISTINCT) lowers
    to a single Expand (rows × |cols|, map-side combinable — not a
    scan per column). STRING min/max is a separate aggregate over a
    scan pruned to just the string columns: a string min has an
    immutable buffer, so putting it in the first aggregate would force
    the WHOLE Expand through SortAggregate — measured 4.6× slower at
    sf0.1 than this split (6.99s → 1.52s). The two 1-row results meet
    in a broadcast join. At 100 TB you'd swap exact distinct for
    approx_count_distinct (q80's HLL is that story); the profile
    contract here keeps the exact count so the oracle can certify it."""
    li = load(spark, sf_dir, "lineitem")
    str_cols = [c for c, kind in _PROFILE_COLS if kind == "str"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs += [F.count(c).alias(f"c_{c}"),
                 F.countDistinct(c).alias(f"d_{c}")]
        if kind != "str":
            aggs += [_fmt_spark(F.min(c), kind).alias(f"mn_{c}"),
                     _fmt_spark(F.max(c), kind).alias(f"mx_{c}")]
    s_aggs = []
    for c in str_cols:
        s_aggs += [_fmt_spark(F.min(c), "str").alias(f"mn_{c}"),
                   _fmt_spark(F.max(c), "str").alias(f"mx_{c}")]
    a = li.agg(*aggs).crossJoin(F.broadcast(li.agg(*s_aggs)))
    rows = [F.struct(F.lit(c).alias("col_name"),
                     F.col("n_rows").alias("n_rows"),
                     (F.col("n_rows") - F.col(f"c_{c}")).alias("n_null"),
                     F.col(f"d_{c}").alias("n_distinct"),
                     F.col(f"mn_{c}").alias("min_s"),
                     F.col(f"mx_{c}").alias("max_s"))
            for c, _ in _PROFILE_COLS]
    return a.select(F.inline(F.array(*rows)))


def _profile_sql() -> str:
    def fmt(expr: str, kind: str) -> str:
        if kind == "num":
            return f"CAST(CAST({expr} AS DECIMAL(18,4)) AS VARCHAR)"
        if kind == "ts":
            return f"strftime({expr}, '{_TS_FMT_DUCK}')"
        return f"CAST({expr} AS VARCHAR)"

    measures = ["count(*) AS n_rows"]
    for c, kind in _PROFILE_COLS:
        measures += [f"count({c}) AS c_{c}",
                     f"count(DISTINCT {c}) AS d_{c}",
                     f"{fmt(f'min({c})', kind)} AS mn_{c}",
                     f"{fmt(f'max({c})', kind)} AS mx_{c}"]
    selects = [
        f"SELECT '{c}' AS col_name, n_rows, n_rows - c_{c} AS n_null,\n"
        f"       d_{c} AS n_distinct, mn_{c} AS min_s, mx_{c} AS max_s FROM a"
        for c, _ in _PROFILE_COLS]
    return ("WITH a AS (\n  SELECT " + ",\n         ".join(measures)
            + "\n  FROM lineitem\n)\n" + "\nUNION ALL ".join(selects))


_Q100_SQL = _profile_sql()


# --- q102: equi-depth histogram ----------------------------------------

EQD_BUCKETS = 8


def q102_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of l_extendedprice — the
    optimizer-statistics / data-profiling primitive where bucket EDGES
    adapt so each bucket holds ~1/k of the rows (an equi-width
    histogram of a skewed price column wastes most buckets).

    Deliberately NOT ntile(): a global ntile is one total sort on a
    single partition — dead at 100 TB. The scale-correct plan computes
    the k−1 boundary quantiles with sketch-bracketed exact refinement
    (functions.quantiles.exact_percentiles — bit-identical to the
    ``percentile`` aggregate it replaced, which was the query's
    dominant cost: 2.5–3 s of boxed OpenHashMap updates + a one-reducer
    merge-sort of every distinct value at sf0.1, vs ~0.7 s for
    sketch + two conditional-count passes + an O(n/accuracy) candidate
    refinement), then assigns buckets in a map-only comparison pass
    against the k−1 LITERAL boundaries (whole-stage codegen; the
    previous array higher-order function was interpreted per row) and
    aggregates per bucket: no global sort, shuffle only on the k-row
    final aggregate. At 100 TB the boundary source swaps to q95's
    mergeable sketch and the assignment pass is unchanged.
    Boundaries are rounded half-up to 6dp so both engines compare
    against bit-identical doubles; assignment is strict `>` so bucket
    membership can't straddle an engine-formatting difference."""
    from ..functions.quantiles import exact_percentiles, round_half_up_py
    qs = [k / EQD_BUCKETS for k in range(1, EQD_BUCKETS)]
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    bs = [round_half_up_py(b, 6)
          for b in exact_percentiles(li, "l_extendedprice", qs)]
    x = F.col("l_extendedprice")
    bucket = None
    for b in bs:
        term = F.when(x > F.lit(b), 1).otherwise(0)
        bucket = term if bucket is None else bucket + term
    asn = li.select(bucket.cast("int").alias("bucket"), "l_extendedprice")
    return (asn.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("l_extendedprice").alias("min_v"),
                 F.max("l_extendedprice").alias("max_v"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                 .cast("double").alias("sum_v")))


def _equidepth_sql() -> str:
    qs = [k / EQD_BUCKETS for k in range(1, EQD_BUCKETS)]
    bcols = ",\n         ".join(
        f"floor(quantile_cont(l_extendedprice, {q}) * 1000000 + 0.5) / 1000000"
        f" AS b{i}" for i, q in enumerate(qs))
    bsum = " + ".join(
        f"CASE WHEN l_extendedprice > b{i} THEN 1 ELSE 0 END"
        for i in range(len(qs)))
    return f"""
WITH b AS (
  SELECT {bcols}
  FROM lineitem
),
asn AS (
  SELECT CAST(({bsum}) AS INT) AS bucket, l_extendedprice
  FROM lineitem CROSS JOIN b
)
SELECT bucket, count(*) AS n_rows,
       min(l_extendedprice) AS min_v, max(l_extendedprice) AS max_v,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
FROM asn GROUP BY bucket
"""


_Q102_SQL = _equidepth_sql()


# --- q112: sketch-fed equi-depth histogram (q102's 100 TB variant) -------

EQD_SK_ACCURACY = 10_000  # GK rank error <= n/accuracy (q95's setting)
EQD_SK_TOL = 0.02         # certified per-bucket depth tolerance


def q112_equidepth_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q102's equi-depth histogram with the bucket boundaries sourced
    from the MERGEABLE quantile sketch (q95's ``percentile_approx``,
    Greenwald-Khanna) instead of the exact interpolated percentile —
    the swap q102's docstring promises at 100 TB, now gated: the exact
    boundary operator materializes every value per group, while the
    sketch is constant-size partial state that merges across
    partitions/shards/streams.

    Cross-engine gate design (q95's certification pattern): Spark's GK
    summary and DuckDB's t-digest produce different boundary VALUES, so
    sketch-derived edges can't hash-match. Each engine instead
    certifies its OWN boundaries in RANK space — bucket i's
    ``within_tol`` is true iff its upper boundary b is a valid
    (i+1)/k-quantile: ``frac_lt(b) ≤ q + tol AND frac_le(b) ≥ q − tol``
    (trivially true for the last, unbounded bucket). This is the
    guarantee sketches actually make, and — unlike certifying observed
    bucket DEPTHS — it stays true under heavy value ties: an atom
    carrying more than tol of mass makes |depth − 1/k| ≤ tol
    unachievable by ANY boundary through it, while its frac_lt/frac_le
    straddle still brackets q (the fuzz lineitem corpus, 20 distinct
    prices over 500 rows, fails the depth rule and passes this one).
    Before certifying, each boundary is SNAPPED to the nearest actual
    data value at-or-below it (fallback: the column min). Spark's GK
    always returns a data value, so the snap is the identity there; but
    DuckDB's t-digest may return an INTERPOLATED boundary strictly
    inside a heavy atom's mass gap, where frac_lt == frac_le and the
    straddle error is bounded only by the atom's mass (≫ tol on tied
    fuzz corpora) — snapping restores the data-value rank semantics the
    certification rule assumes, on both engines identically.
    Hash-comparable columns: bucket id, target depth, the
    certification bit, and the EXACT boundary (q102 proved that
    hash-matches) as the value-bearing witness. tol = 0.02 covers
    discrete-rank granularity at the smallest test table; the sketch
    rank errors (1e-4 GK, ~1e-3 t-digest) sit far inside.

    Scale shape: one map-side-combinable sketch aggregate (the exact
    percentile rides the same pass ONLY as the witness column — a real
    100 TB run drops it), then TWO (k−1)-row-broadcast map-only passes
    over the table (snap, then conditional-count — q95's verification
    pass, the same comparison work as q102's assignment), and a k-row
    result. No global sort anywhere."""
    from ..functions.rounding import round_half_up
    k = EQD_BUCKETS
    qs = [i / k for i in range(1, k)]
    qcsv = ",".join(map(str, qs))
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    # the exact witness no longer rides the sketch aggregate as a
    # percentile() term (the dominant cost — see q102); it comes from
    # the same sketch-bracketed exact refinement, as literals
    from ..functions.quantiles import exact_percentiles
    exv = exact_percentiles(li, "l_extendedprice", qs)
    st = li.agg(
        F.count("l_extendedprice").alias("n"),
        F.expr(f"percentile_approx(l_extendedprice, array({qcsv}),"
               f" {EQD_SK_ACCURACY})").alias("ap"))
    st = st.withColumn("ex", F.array(*[F.lit(v) for v in exv]))
    # pass 1: snap each sketch boundary to the nearest data value <= b
    bnd = (st.select("n", F.posexplode("ap").alias("i", "b"))
           .select("n", "i", "b",
                   ((F.col("i") + 1).cast("double") / k).alias("q")))
    sb = (li.crossJoin(F.broadcast(bnd))
          .groupBy("i", "q", "n")
          .agg(F.coalesce(
              F.max(F.when(F.col("l_extendedprice") <= F.col("b"),
                           F.col("l_extendedprice"))),
              F.min("l_extendedprice")).alias("sb")))
    # pass 2: rank-certify each snapped boundary against the full column
    rk = (li.crossJoin(F.broadcast(sb))
          .groupBy("i", "q", "n", "sb")
          .agg(F.sum(F.when(F.col("l_extendedprice") <= F.col("sb"), 1)
                     .otherwise(0)).alias("n_le"),
               F.sum(F.when(F.col("l_extendedprice") < F.col("sb"), 1)
                     .otherwise(0)).alias("n_lt")))
    frac_le = F.col("n_le").cast("double") / F.col("n")
    frac_lt = F.col("n_lt").cast("double") / F.col("n")
    cert = rk.select(
        F.col("i").cast("int").alias("bucket"),
        ((frac_le >= F.col("q") - EQD_SK_TOL)
         & (frac_lt <= F.col("q") + EQD_SK_TOL)).alias("ok"))
    buckets = (st.select("n", "ex",
                         F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                         .alias("bucket")))
    exact_edge = F.when(
        F.col("bucket") < k - 1,
        round_half_up(F.element_at("ex", F.col("bucket") + 1), 6))
    return (buckets.join(cert, "bucket", "left")
            .select("bucket",
                    F.col("n").cast("long").alias("n"),
                    F.lit(1.0 / k).alias("target_depth"),
                    exact_edge.alias("exact_edge"),
                    F.coalesce("ok", F.lit(True)).alias("within_tol")))


def _equidepth_sketch_sql() -> str:
    k = EQD_BUCKETS
    qs = [i / k for i in range(1, k)]
    excols = ",\n         ".join(
        f"quantile_cont(l_extendedprice, {q}) AS e{i}"
        for i, q in enumerate(qs))
    apcols = ",\n         ".join(
        f"approx_quantile(l_extendedprice, {q}) AS a{i}"
        for i, q in enumerate(qs))
    pairs = "\n  UNION ALL ".join(
        f"SELECT n, {i} AS i, CAST({(i + 1) / k} AS DOUBLE) AS q, a{i} AS b"
        f" FROM st" for i in range(len(qs)))
    edge = " ".join(
        f"WHEN bucket = {i} THEN floor(e{i} * 1000000 + 0.5) / 1000000"
        for i in range(len(qs)))
    return f"""
WITH st AS (
  SELECT count(l_extendedprice) AS n,
         {excols},
         {apcols}
  FROM lineitem
),
bnd AS (
  {pairs}
),
sb AS (
  SELECT i, q, n,
         coalesce(max(CASE WHEN l_extendedprice <= b
                           THEN l_extendedprice END),
                  min(l_extendedprice)) AS sb
  FROM lineitem CROSS JOIN bnd
  GROUP BY i, q, n
),
rk AS (
  SELECT i, q, n, sb,
         sum(CASE WHEN l_extendedprice <= sb THEN 1 ELSE 0 END) AS n_le,
         sum(CASE WHEN l_extendedprice < sb THEN 1 ELSE 0 END) AS n_lt
  FROM lineitem CROSS JOIN sb
  GROUP BY i, q, n, sb
),
cert AS (
  SELECT CAST(i AS INT) AS bucket,
         (CAST(n_le AS DOUBLE) / n >= q - {EQD_SK_TOL}
          AND CAST(n_lt AS DOUBLE) / n <= q + {EQD_SK_TOL}) AS ok
  FROM rk
),
buckets AS (
  SELECT st.*, CAST(u.b AS INT) AS bucket
  FROM st, unnest(range(0, {k})) AS u(b)
)
SELECT bucket, CAST(n AS BIGINT) AS n,
       CAST(1.0 / {k} AS DOUBLE) AS target_depth,
       CASE {edge} END AS exact_edge,
       coalesce(ok, TRUE) AS within_tol
FROM buckets LEFT JOIN cert USING (bucket)
"""


_Q112_SQL = _equidepth_sketch_sql()


# --- q114: global range-partitioned sort (terasort shape) ----------------

_SORT_KEYS = ("l_shipdate", "l_orderkey", "l_linenumber",
              "l_partkey", "l_suppkey")  # 4-col suffix is the proven
                                         # unique key (q104), so the
                                         # total order has no ties


def _range_sorted_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed-sort stage of q114, pre-checkpoint: sampled
    range partitioning + per-partition sort + JVM-side local sequence
    numbers. Factored out so the plan test can assert the terasort
    shape (RangePartitioning present, no single-partition exchange on
    the data path) before lineage truncation hides it."""
    li = load(spark, sf_dir, "lineitem").select(*_SORT_KEYS)
    keys = [F.col(c) for c in _SORT_KEYS]
    # floor of 2: on a single-core host defaultParallelism is 1, which
    # would degenerate the terasort shape to one partition (ranks stay
    # correct either way — the key embeds the unique 4-column suffix)
    n_part = max(2, spark.sparkContext.defaultParallelism)
    return (li.repartitionByRange(n_part, *keys)
            .sortWithinPartitions(*keys)
            .withColumn("pid", F.spark_partition_id())
            # monotonically_increasing_id = (pid << 33) + row-seq in
            # partition order: a JVM-side per-partition counter, so the
            # local rank needs no window (no second exchange) and no
            # Python
            .withColumn("rn", F.monotonically_increasing_id()
                        - F.shiftleft(F.col("pid").cast("long"), 33) + 1))


def q114_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-ordered table with explicit global ranks — the terasort
    shape, and the at-scale generalization of the reference's only read
    query (README_duckdb.md:78-84 sorts its report output): sampled
    range partitioning splits the key space across executors, each
    partition sorts locally, and global ranks are per-partition
    sequence numbers plus broadcast cumulative offsets. NO single-task
    global sort and NO single-partition window ever touches the data —
    the only single-partition step is the cumulative sum over the
    |partitions|-row count table.

    The sorted stage is localCheckpoint-ed for CORRECTNESS, not speed:
    range partitioning samples its boundaries, and the offsets pass and
    the rank pass must observe the SAME boundaries — two independent
    recomputations could legally sample differently and skew every
    rank. The checkpoint is pinned to DISK_ONLY storage: the default
    MEMORY_AND_DISK level unrolls the whole table DESERIALIZED through
    the heap, and the round-8 full-registry sweep OOMed there at the
    100x probe (60M sorted rows vs the default 8g driver) — a
    table-sized checkpoint must never compete with execution memory.
    (At real cluster scale this becomes a staged write; the
    two-pass-over-pinned-layout structure is unchanged.) Ranks are
    deterministic regardless of where the
    sampled boundaries land because the sort key embeds the proven
    unique key — the total order, and hence row_number, is unique.

    Scale shape: one range shuffle + local sorts (the optimal
    distributed sort), a |partitions|-row aggregate, a broadcast join,
    and map-only arithmetic. Shuffle volume = data size, once."""
    from pyspark import StorageLevel
    srt = (_range_sorted_lineitem(spark, sf_dir)
           .localCheckpoint(eager=True,
                            storageLevel=StorageLevel.DISK_ONLY))
    counts = srt.groupBy("pid").agg(F.count("*").alias("cnt"))
    w = (Window.orderBy("pid")
         .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("off"))
    return (srt.join(F.broadcast(offsets), "pid")
            .select((F.col("off") + F.col("rn")).alias("global_rank"),
                    *_SORT_KEYS))


# NULLS FIRST pins DuckDB to Spark's ascending default (DuckDB defaults
# to NULLS LAST) — NULL-keyed rows would otherwise rank differently
_Q114_SQL = f"""
SELECT row_number() OVER (
         ORDER BY {", ".join(f"{k} NULLS FIRST" for k in _SORT_KEYS)})
         AS global_rank,
       {", ".join(_SORT_KEYS)}
FROM lineitem
"""



# --- q104: candidate-key (uniqueness) discovery --------------------------

_KEY_CANDIDATES = (
    # the synthetic generator reuses orderkeys across rows, so unlike
    # true TPC-H even (orderkey, linenumber) is non-unique here — the
    # 4-column candidate is the one that actually holds
    ("l_orderkey",),
    ("l_orderkey", "l_linenumber"),
    ("l_partkey", "l_suppkey"),
    ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
)


def q104_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery — for each proposed key, is it unique,
    and if not, how many rows sit in violating groups? The audit behind
    primary-key inference, MERGE-key validation (q91's CDC and q06's
    idempotent insert both presume a sound key), and dedup-key choice.
    The reference trusts PostgreSQL PK constraints to enforce this;
    at 100 TB the check IS the query, run before the constraint is
    declared.

    Scale shape: one map-side-combinable groupBy per candidate (shuffle
    carries the candidate's columns + a count), then a 1-row rollup of
    each — |candidates| bounded passes, no Expand blow-up of the full
    row, no distinct-on-struct sort. The exact-count contract is what
    the oracle certifies; a 100 TB pre-screen would swap in
    approx_count_distinct (q80) to cheaply reject non-keys first."""
    li = load(spark, sf_dir, "lineitem")
    parts = []
    for cand in _KEY_CANDIDATES:
        g = li.groupBy(*cand).agg(F.count(F.lit(1)).alias("cnt"))
        parts.append(
            g.agg(F.sum("cnt").alias("n_rows"),
                  F.count(F.lit(1)).alias("n_keys"),
                  F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))
                        .otherwise(F.lit(0))).alias("n_rows_in_dup_groups"))
            .select(F.lit("+".join(cand)).alias("candidate"),
                    "n_rows", "n_keys", "n_rows_in_dup_groups",
                    (F.col("n_keys") == F.col("n_rows")).alias("is_unique")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _key_uniqueness_sql() -> str:
    selects = []
    for cand in _KEY_CANDIDATES:
        cols = ", ".join(cand)
        selects.append(f"""
SELECT '{"+".join(cand)}' AS candidate,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       count(*) AS n_keys,
       CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
         AS n_rows_in_dup_groups,
       count(*) = sum(cnt) AS is_unique
FROM (SELECT {cols}, count(*) AS cnt FROM lineitem GROUP BY {cols})""")
    return "\nUNION ALL".join(selects)


_Q104_SQL = _key_uniqueness_sql()


# --- q107: bloom-filter runtime pre-join reduction -----------------------


def q107_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by return flag, answered through a
    Bloom-filter runtime pre-join reduction (operators/bloom): the
    selective order subset builds a 1M-bit bloom bitmap (16384 (w,
    bits) rows ≈ 256 KB broadcast; one
    map-side-combinable bit_or aggregate, ≤ bits/64 words shuffled),
    the bitmap broadcasts, and the lineitem side drops
    definitely-unmatched rows BEFORE the join shuffle — so the
    sort-merge join shuffles true matches plus a <1% false-positive
    residue instead of the full fact table. This is the join-side
    reduction Spark's AQE applies internally with `bloom_filter_agg`
    (not public API, hence the hand-built operator) and the heart of
    any big⨝selective-big plan at 100 TB, where neither side
    broadcasts. The merge hint forces the shuffle join the technique
    exists for (Catalyst would broadcast this gate-sized subset and
    hide the point).

    Correctness contract (same as salting/bucketing): the bloom stage
    is RESULT-INVISIBLE — false positives die in the exact join — so
    the oracle is the plain join+aggregate."""
    from ..operators.bloom import bloom_prefiltered
    sel = (load(spark, sf_dir, "orders")
           .filter(F.col("o_orderpriority") == "1-URGENT")
           .select("o_orderkey"))
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_returnflag")
    reduced = bloom_prefiltered(li, sel, "l_orderkey", "o_orderkey")
    joined = reduced.join(sel.hint("merge"),
                          reduced.l_orderkey == sel.o_orderkey)
    return (joined.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(_revenue_dec()).cast("double").alias("revenue")))


_Q107_SQL = """
SELECT l_returnflag, count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8)))
            AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
"""


# --- q128/q131: graph analytics over the trade graph ----------------------

PR_ITERS = 3
PR_TOPK = 20


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed (src, dst) edge list of the undirected customer↔supplier
    trade graph, both directions present. Nodes are namespaced into one
    long id space (cust*2 / supp*2+1) so every shuffle key is a plain
    long. The ONE corpus-scale stage of every graph query — an
    orders⨝lineitem pass reduced to distinct pairs — is MATERIALIZED
    once per (SF, input state) through the fingerprint-invalidated
    derived-table cache (sources/derived_cache): q128, q131 and q136
    each consumed the same ~100s derivation at the 100× probe before
    the cache; now the second-and-later graph queries read the compact
    pair parquet instead of re-deriving, and a changed orders/lineitem
    input rebuilds it (tests/test_derived_cache.py). The union reads
    the cached parquet twice — two cheap columnar scans, replacing the
    former DISK_ONLY checkpoint.

    merge hint: fact-to-fact join — Catalyst's static estimate of the
    2-column orders projection falls under the broadcast threshold at
    probe scale and built a 512 MB driver-side hash table (15M rows);
    at 100 TB the orders side is nowhere near broadcastable."""
    import os

    from ..sources.derived_cache import (cached_parquet, scratch_base,
                                         table_fingerprint)

    def build() -> DataFrame:
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey")
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey")
        return (orders.join(li.hint("merge"),
                            orders.o_orderkey == li.l_orderkey)
                .select((F.col("o_custkey") * 2).alias("c"),
                        (F.col("l_suppkey") * 2 + 1).alias("s"))
                .distinct())

    base, _ = scratch_base(sf_dir)
    fp = table_fingerprint(sf_dir, ("orders", "lineitem"),
                           params="trade_und_v1")
    und = cached_parquet(spark, os.path.join(base, "trade_und"), fp, build)
    return (und.select(F.col("c").alias("src"), F.col("s").alias("dst"))
            .union(und.select(F.col("s").alias("src"),
                              F.col("c").alias("dst"))))


_TRADE_CTES = """und AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM und
  UNION ALL
  SELECT s AS src, c AS dst FROM und
)"""

# node ids are namespaced cust*2 / supp*2+1 (:func:`_trade_edges`)
_NODE_TYPE_SQL = ("CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' "
                  "END AS node_type")


def _node_type():
    return (F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier")).alias("node_type"))


def q128_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 entities by PageRank over the undirected customer↔supplier
    trade graph — the link-quality signal corpus curation uses at scale
    (Common Crawl host ranks gate crawl/keep decisions) run as the
    canonical distributed-graph iteration: derive edges from the fact
    tables once, then V rounds of join + map-side-combinable aggregate
    over the aggregated graph (operators/graph.pagerank_exact).

    Scale shape: the corpus-scale stage is the ONE orders⨝lineitem pass
    that derives distinct (customer, supplier) trade edges — everything
    after runs on the aggregated edge list, shuffle ∝ |edges| per round,
    rank state one long per node, lineage cut between rounds (DISK_ONLY).
    Exactness: ranks in integer micro-units, damping+split as a single
    BIGINT floor division, teleport an integer constant — V rounds stay
    bit-identical to the unrolled-CTE oracle, so the driver hash
    certifies the whole trajectory (the q115/q82 iterative contract).
    Node namespacing and the edge-derivation plan notes live on
    :func:`_trade_edges`."""
    from ..operators import graph
    r = graph.pagerank_exact(_trade_edges(spark, sf_dir), PR_ITERS)
    ranked = r.orderBy(F.col("rank_micro").desc(), "node").limit(PR_TOPK)
    return ranked.select(_node_type(),
                         F.expr("node div 2").cast("long").alias("node_id"),
                         "rank_micro")


def _pagerank_ctes() -> tuple[str, str]:
    """The shared unrolled-PageRank WITH body (trade graph -> r0..rV)
    and the final iteration's CTE name — spliced by both the q128 and
    q135 oracles so the two certify the same trajectory."""
    from ..operators.graph import DAMP_DEN, DAMP_NUM, RANK_SCALE, TELEPORT
    iters = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
s{k} AS (
  SELECT ed.dst AS node,
         CAST(sum(({prev}.r * {DAMP_NUM}) // ({DAMP_DEN} * ed.deg))
              AS BIGINT) AS s
  FROM ed JOIN {prev} ON {prev}.node = ed.src GROUP BY ed.dst
),
r{k} AS MATERIALIZED (
  SELECT n.node, CAST({TELEPORT} + COALESCE(s{k}.s, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN s{k} ON s{k}.node = n.node
)""")
        prev = f"r{k}"
    body = f"""{_TRADE_CTES},
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
outdeg AS MATERIALIZED (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
),
ed AS MATERIALIZED (
  SELECT e.src, e.dst, d.deg FROM edges e JOIN outdeg d ON d.src = e.src
),
r0 AS MATERIALIZED (
  SELECT node, CAST({RANK_SCALE} AS BIGINT) AS r FROM nodes
),{",".join(iters)}"""
    return body, prev


def _pagerank_sql() -> str:
    body, last = _pagerank_ctes()
    return f"""
WITH {body}
SELECT {_NODE_TYPE_SQL},
       CAST(node // 2 AS BIGINT) AS node_id,
       r AS rank_micro
FROM {last}
ORDER BY rank_micro DESC, node
LIMIT {PR_TOPK}
"""


def q135_pagerank_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank convergence residuals over the trade graph: one row per
    iteration with the exact-integer L∞ / L1 / support view of how much
    rank mass still moves — (iter, max_abs_delta, sum_abs_delta,
    n_changed). This is the measurement a production curation pipeline
    gates on instead of a fixed round count (q128's fixed-V contract is
    justified exactly when this trajectory has flattened), and it turns
    "did PageRank converge" into a driver-certified result: the oracle
    unrolls the same rounds (shared CTE body, :func:`_pagerank_ctes`)
    and recomputes every residual, so a green row certifies the whole
    trajectory in both engines bit-for-bit.

    Scale shape: pagerank_exact's per-round cost plus one merge-hinted
    node-sized join per round collapsed to a 1-row aggregate; output is
    PR_ITERS rows. Plan notes live on
    ``operators/graph.pagerank_with_residuals``."""
    from ..operators import graph
    _r, residuals = graph.pagerank_with_residuals(
        _trade_edges(spark, sf_dir), PR_ITERS)
    return residuals


def _q135_sql() -> str:
    body, _last = _pagerank_ctes()
    rounds = []
    for k in range(1, PR_ITERS + 1):
        rounds.append(f"""
SELECT {k} AS iter,
       max(abs(b.r - a.r)) AS max_abs_delta,
       CAST(sum(abs(b.r - a.r)) AS BIGINT) AS sum_abs_delta,
       CAST(count(CASE WHEN b.r <> a.r THEN 1 END) AS BIGINT) AS n_changed
FROM r{k - 1} a JOIN r{k} b ON a.node = b.node""")
    return f"""
WITH {body}
{" UNION ALL ".join(rounds)}
"""


KCORE_K = 8
KCORE_ROUNDS = 3


def q131_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel of the trade graph: drop nodes with degree < 8 for
    three rounds, then summarize the surviving core per node type —
    the link-spam / crawl-frontier shell signal (low-core shells are
    where mirror farms and isolated spam live; Gopher-style curation
    consumes core membership as a host-quality prior). Same shared
    edge derivation as q128 (:func:`_trade_edges`); the peel recurrence
    and its per-round shuffle shape live on
    ``operators/graph.kcore_peel``.

    Exactness: degrees are exact integer counts and the peel is a pure
    threshold — the V-round trajectory is bit-identical to the
    unrolled-CTE oracle. Output is one row per node type (n_nodes,
    sum of surviving degrees, max degree) — bounded at any scale."""
    from ..operators import graph
    return _core_summary(graph.kcore_peel(_trade_edges(spark, sf_dir),
                                          KCORE_K, KCORE_ROUNDS))


def _core_summary(core: DataFrame) -> DataFrame:
    """Per node type: n_nodes, sum and max of the surviving degrees."""
    return (core.groupBy(_node_type())
            .agg(F.count("*").alias("n_nodes"),
                 F.sum("deg").alias("sum_deg"),
                 F.max("deg").alias("max_deg")))


def _kcore_sql(k: int, rounds: int, converged_flag: bool) -> str:
    """Unrolled ``rounds``-round peel at threshold ``k`` over the trade
    graph, summarized like :func:`_core_summary`; ``converged_flag``
    adds q136's literal ``TRUE AS converged_within_bound``."""
    peel = []
    prev = "e0"
    for i in range(1, rounds + 1):
        peel.append(f"""
a{i} AS MATERIALIZED (
  SELECT src AS node FROM {prev} GROUP BY src HAVING count(*) >= {k}
),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  WHERE e.src IN (SELECT node FROM a{i})
    AND e.dst IN (SELECT node FROM a{i})
)""")
        prev = f"e{i}"
    flag = ",\n       TRUE AS converged_within_bound" if converged_flag else ""
    return f"""
WITH {_TRADE_CTES},
e0 AS MATERIALIZED (SELECT src, dst FROM edges),{",".join(peel)},
core AS (SELECT src AS node, count(*) AS deg FROM {prev} GROUP BY src)
SELECT {_NODE_TYPE_SQL},
       count(*) AS n_nodes,
       CAST(sum(deg) AS BIGINT) AS sum_deg,
       max(deg) AS max_deg{flag}
FROM core GROUP BY 1
"""


KCORE_FIX_K = 10
KCORE_FIX_BOUND = 5  # unrolled-oracle peel rounds; measured fixpoint
                     # depth is 1 effective round at every SF and probe
                     # decade (dense trade graph), so the bound carries
                     # 5x margin against regenerated data


def q136_kcore_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRUE k-core (peel to fixpoint, k=10) with driver-certified
    convergence — closing r9's honest gap where only the bounded-round
    trajectory (q131) was oracle-gated and the fixpoint operator had
    unit tests alone. The query runs ``graph.kcore_fixpoint`` (edge-
    count-witnessed, data-dependent round count) and certifies
    ``converged_within_bound``: TRUE iff the fixpoint was PROVEN within
    KCORE_FIX_BOUND effective peel rounds. The oracle unrolls exactly
    KCORE_FIX_BOUND rounds and emits literal TRUE — sound because
    peeling is monotone, so once the edge set is stable every further
    unrolled round is the identity and the bounded CTE equals the
    fixpoint; if regenerated data ever needed more rounds, Spark's
    FALSE flag turns the row red instead of silently gating a
    non-converged core.

    Scale shape: per-round cost identical to q131's peel (merge-hinted
    semi-joins, map-side degree combine, DISK_ONLY cuts) plus one
    driver-side edge count per round as the fixpoint witness; the edge
    list comes from the materialized trade-graph cache, so the
    corpus-scale derivation is paid once per input state, not per
    query."""
    return _kcore_converged_summary(_trade_edges(spark, sf_dir),
                                    KCORE_FIX_K, KCORE_FIX_BOUND)


def _kcore_converged_summary(edges: DataFrame, k: int,
                             bound: int) -> DataFrame:
    """q136's gating logic over an arbitrary edge list — split out so
    the tripwire is directly testable on handcrafted graphs (a graph
    needing more than ``bound`` effective peels MUST come back with
    ``converged_within_bound=false``, turning the driver row red
    instead of silently gating a non-converged core)."""
    from ..operators import graph
    core, rounds_used = graph.kcore_fixpoint(edges, k,
                                             max_rounds=bound + 3)
    # rounds_used includes the final no-op proof round: the state is
    # fixed after rounds_used - 1 effective peels, so the R-round
    # unrolled oracle equals the fixpoint iff rounds_used - 1 <= R.
    # If the max_rounds cap was hit WITHOUT proving the fixpoint,
    # rounds_used == bound + 3 > bound + 1, so the flag is false then
    # too — the cap cannot masquerade as convergence.
    converged = (rounds_used - 1) <= bound
    return _core_summary(core).withColumn("converged_within_bound",
                                          F.lit(bool(converged)))


# --- q125: blocked fuzzy join (edit-distance record linkage) -------------

LINK_MAX_DIST = 3


def q125_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-blocked edit-distance record linkage over part names — the
    fuzzy-join primitive of entity resolution / catalog dedup: emit
    every pair of DISTINCT names that share a token and sit within
    Levenshtein distance ≤ 3, with each name's part count attached.

    Scale design (the reason this survives 100 TB): edit distance is
    quadratic in candidate pairs, so the operator never compares rows —
    it compares DISTINCT VALUES. The only corpus-scale pass is a
    map-side-combinable ``groupBy(name).count()``; everything after
    runs on the distinct-name table, whose size is Heaps-bounded by
    the name vocabulary, not the corpus (the q115/q119/q124
    distinct-unit argument). Candidates come from an inverted token
    index (q24's blocking shape — a production deployment on
    open-vocabulary names would add q24's ``max_df`` stop-token cap to
    bound the hottest posting list; the fixed catalog vocabulary here
    keeps every list bounded by construction), verification is one
    JVM ``levenshtein`` per candidate, and the count join-back
    broadcasts the bounded name table. The distance is an exact
    integer, so the cross-engine hash cannot wobble.

    Reference parity: the reference has no fuzzy matching — this is a
    beyond-reference operator (BASELINE.json north star) from the
    record-linkage literature (Fellegi-Sunter blocking + edit-distance
    verify)."""
    parts = load(spark, sf_dir, "part")
    # names is consumed 4x (token index twice, both count join-backs);
    # checkpointing the vocab-bounded aggregate pins the corpus-scale
    # groupBy to ONE scan (the q113 multi-consumer fan-out lesson)
    names = (parts.groupBy(F.col("p_name").alias("name"))
             .agg(F.count(F.lit(1)).alias("n_parts"))
             .localCheckpoint(eager=True))
    tok = names.select("name", F.explode(F.split("name", " ")).alias("t"))
    a, b = tok.alias("a"), tok.alias("b")
    cand = (a.join(b, (F.col("a.t") == F.col("b.t"))
                   & (F.col("a.name") < F.col("b.name")))
            .select(F.col("a.name").alias("name_a"),
                    F.col("b.name").alias("name_b"))
            .distinct())
    pairs = (cand
             .withColumn("lev_dist",
                         F.levenshtein("name_a", "name_b").cast("long"))
             .filter(F.col("lev_dist") <= LINK_MAX_DIST))
    na = names.select(F.col("name").alias("name_a"),
                      F.col("n_parts").alias("n_parts_a"))
    nb = names.select(F.col("name").alias("name_b"),
                      F.col("n_parts").alias("n_parts_b"))
    return (pairs.join(F.broadcast(na), "name_a")
            .join(F.broadcast(nb), "name_b")
            .select("name_a", "name_b", "lev_dist",
                    "n_parts_a", "n_parts_b"))


_Q125_SQL = f"""
WITH names AS (
  SELECT p_name AS name, count(*) AS n_parts FROM part GROUP BY p_name
),
tok AS (SELECT name, unnest(string_split(name, ' ')) AS t FROM names),
cand AS (
  SELECT DISTINCT a.name AS name_a, b.name AS name_b
  FROM tok a JOIN tok b ON a.t = b.t AND a.name < b.name
),
pairs AS (
  SELECT name_a, name_b,
         CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev_dist
  FROM cand WHERE levenshtein(name_a, name_b) <= {LINK_MAX_DIST}
)
SELECT p.name_a, p.name_b, p.lev_dist,
       na.n_parts AS n_parts_a, nb.n_parts AS n_parts_b
FROM pairs p
JOIN names na ON na.name = p.name_a
JOIN names nb ON nb.name = p.name_b
"""


QUERIES: dict[str, Query] = {
    "q11_pricing_summary": Query(q11_pricing_summary, _Q11_SQL),
    "q12_top_revenue_orders": Query(q12_top_revenue_orders, _Q12_SQL),
    "q13_region_revenue": Query(q13_region_revenue, _Q13_SQL),
    "q14_group_topn": Query(q14_group_topn, _Q14_SQL),
    "q15_set_ops": Query(q15_set_ops, _Q15_SQL),
    "q16_rollup": Query(q16_rollup, _Q16_SQL),
    "q17_pivot_status": Query(q17_pivot_status, _Q17_SQL),
    "q18_distinct_agg": Query(q18_distinct_agg, _Q18_SQL),
    "q19_having_heavy_customers": Query(q19_having_heavy_customers, _Q19_SQL),
    "q20_asof_last_click": Query(q20_asof_last_click, _Q20_SQL),
    "q87_full_outer_reconciliation": Query(q87_full_outer_reconciliation,
                                           _Q87_SQL),
    "q52_multiset_ops": Query(q52_multiset_ops, _Q52_SQL),
    "q100_table_profile": Query(q100_table_profile, _Q100_SQL),
    "q102_equidepth_histogram": Query(q102_equidepth_histogram, _Q102_SQL),
    "q112_equidepth_sketch": Query(q112_equidepth_sketch, _Q112_SQL),
    "q104_key_uniqueness": Query(q104_key_uniqueness, _Q104_SQL),
    "q107_bloom_join": Query(q107_bloom_join, _Q107_SQL),
    "q125_fuzzy_linkage": Query(q125_fuzzy_linkage, _Q125_SQL),
    "q128_pagerank": Query(q128_pagerank, _pagerank_sql()),
    "q131_kcore": Query(q131_kcore, _kcore_sql(KCORE_K, KCORE_ROUNDS, False)),
    "q135_pagerank_convergence": Query(q135_pagerank_convergence,
                                       _q135_sql()),
    "q136_kcore_converged": Query(
        q136_kcore_converged,
        _kcore_sql(KCORE_FIX_K, KCORE_FIX_BOUND, True)),
    "q114_global_sort": Query(q114_global_sort, _Q114_SQL),
}
