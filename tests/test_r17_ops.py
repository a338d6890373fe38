"""Round-17 optimization invariants.

Pins the behavior-preserving claims of the r17 optimization round:

- the SemDeDup cell-size skew cap (workload.similarity._semdedup_removed)
  produces EXACTLY the flat ``id_a < id_b`` join's removal set, with and
  without oversized cells;
- the counted-diff rewrite inside ``versioned_store._mutual_except_all``
  is multiset-identical to the mutual ``exceptAll`` pair it replaced.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_stock_market_data_postgresql_spark.functions import (
    vectors as vfun,
)
from etl_pipeline_stock_market_data_postgresql_spark.functions.rounding import (
    round_half_up,
)
from etl_pipeline_stock_market_data_postgresql_spark.sources.versioned_store import (
    _mutual_except_all,
)
from etl_pipeline_stock_market_data_postgresql_spark.workload.similarity import (
    SEMDEDUP_SIM,
    SEMDEDUP_SKEW_FACTOR,
    SEMDEDUP_VECS_PER_CELL,
    _semdedup_removed,
)


def _cells(spark, sizes: dict[int, int]):
    """A deterministic (id, v, cell, nrm) frame with |sizes[c]| members
    per cell c. Vectors are crafted so some in-cell pairs clear the
    SEMDEDUP_SIM ball and others don't."""
    rows = []
    nid = 0
    for cell, n in sizes.items():
        for k in range(n):
            # two interleaved directions per cell: members with the
            # same parity are near-parallel (sim ~1), cross-parity
            # pairs are near-orthogonal (sim ~0)
            base = [1.0, 0.01 * (k % 7), 0.0, 0.5] if k % 2 == 0 else \
                   [0.01 * (k % 5), 1.0, 0.5, 0.0]
            rows.append((nid, [x + 0.001 * (k % 3) for x in base], cell))
            nid += 1
    df = spark.createDataFrame(rows, "id long, v array<double>, cell long")
    return df.withColumn("nrm", vfun.norm(F.col("v")))


def _flat_removed(cells):
    """The original flat SemDeDup tail (the q98 witness shape)."""
    a = cells.select(F.col("id").alias("id_a"), "cell",
                     F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = cells.select(F.col("id").alias("id_b"), "cell",
                     F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    sim6 = round_half_up(
        vfun.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (a.join(b, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("sim", sim6)
            .filter(F.col("sim") >= SEMDEDUP_SIM)
            .select(F.col("id_b").alias("id")).distinct())


def test_semdedup_salted_pairs_equivalence_oversized(spark):
    """One cell far above the skew cap: the salted bucket-pair branch
    must reproduce the flat join's removal set exactly."""
    cap_floor = SEMDEDUP_SKEW_FACTOR * SEMDEDUP_VECS_PER_CELL
    cells = _cells(spark, {0: cap_floor + 200, 1: 31, 2: 8})
    got = sorted(r.id for r in _semdedup_removed(cells).collect())
    want = sorted(r.id for r in _flat_removed(cells).collect())
    assert got == want
    assert len(want) > 0  # the scenario actually removes something


def test_semdedup_salted_pairs_equivalence_uniform(spark):
    """No oversized cells: the salted branch is empty and the result
    is still exactly the flat join's."""
    cells = _cells(spark, {0: 40, 1: 25, 2: 3, 3: 1})
    got = sorted(r.id for r in _semdedup_removed(cells).collect())
    want = sorted(r.id for r in _flat_removed(cells).collect())
    assert got == want


def test_semdedup_salt_applies_only_to_oversized_cells(spark):
    """The salted side is gated on the oversized-cell set: with every
    cell under the cap the bucket-pair join processes zero rows (the
    flat branch carries everything)."""
    cells = _cells(spark, {0: 40, 1: 25})
    sizes = cells.groupBy("cell").agg(F.count("*").alias("_csz"))
    cap = float(SEMDEDUP_SKEW_FACTOR * SEMDEDUP_VECS_PER_CELL)
    assert sizes.filter(F.col("_csz") > cap).count() == 0


@pytest.mark.parametrize("dup_shape", ["disjoint", "overlap", "dups"])
def test_mutual_except_all_multiset_identity(spark, dup_shape):
    """_mutual_except_all ≡ (a.exceptAll(b), b.exceptAll(a)) as
    multisets, including duplicate rows and full cancellation."""
    if dup_shape == "disjoint":
        a_rows = [(1, "x"), (2, "y")]
        b_rows = [(3, "z")]
    elif dup_shape == "overlap":
        a_rows = [(1, "x"), (2, "y"), (3, "z")]
        b_rows = [(2, "y"), (3, "z"), (4, "w")]
    else:  # duplicates with partial cancellation
        a_rows = [(1, "x")] * 3 + [(2, "y")] * 2
        b_rows = [(1, "x")] * 1 + [(2, "y")] * 4
    a = spark.createDataFrame(a_rows, "k long, s string")
    b = spark.createDataFrame(b_rows, "k long, s string")
    got_ab, got_ba = _mutual_except_all(a, b)
    want_ab = a.exceptAll(b)
    want_ba = b.exceptAll(a)

    def ms(df):
        return sorted(map(tuple, df.collect()))

    assert ms(got_ab) == ms(want_ab)
    assert ms(got_ba) == ms(want_ba)


def test_mutual_except_all_inputs_holding_temp_column_names(spark):
    """Frames that already carry the diff's temp column names (a diff
    of a diff's output, say) must diff like any others: the temp names
    are chosen clear of the inputs' columns."""
    a = spark.createDataFrame([(1, 5, 7), (1, 5, 7), (2, 6, 8)],
                              "k long, _vd_w long, _vd_d long")
    b = spark.createDataFrame([(1, 5, 7), (3, 0, 0)],
                              "k long, _vd_w long, _vd_d long")
    got_ab, got_ba = _mutual_except_all(a, b)
    assert got_ab.columns == got_ba.columns == ["k", "_vd_w", "_vd_d"]

    def ms(df):
        return sorted(map(tuple, df.collect()))

    assert ms(got_ab) == ms(a.exceptAll(b)) == [(1, 5, 7), (2, 6, 8)]
    assert ms(got_ba) == ms(b.exceptAll(a)) == [(3, 0, 0)]
