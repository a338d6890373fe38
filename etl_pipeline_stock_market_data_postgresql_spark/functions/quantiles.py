"""Exact interpolated percentiles computed as a DRIVER-SIDE scalar via
sketch-bracketed refinement — a drop-in replacement for the values of
Spark's ``percentile(col, array(...))`` aggregate that avoids its cost.

Why: ``percentile`` is a TypedImperativeAggregate — every row updates a
boxed OpenHashMap, partial maps serialize whole, and the final merge
sorts every distinct value with generic ordering on ONE reducer.
Measured at sf0.1 (600k doubles, local[32]): 1.6–3.0 s for the exact
aggregate vs 0.28 s for the GK sketch (``approx_percentile``) — guide
§2.3's "shuffle keys and metadata instead of payloads" applied to an
aggregate: decide with a tiny sketch, refine with bounded exact work.

Algorithm (three metadata-light passes + O(n/accuracy) driver work):

1. ONE aggregate: non-null ``count`` + ``approx_percentile`` at the
   WIDENED quantiles p±3/accuracy — the GK guarantee (rank error ≤
   n/accuracy) makes [vL, vH] a certain bracket for the two ranks the
   exact percentile interpolates between.
2. ONE aggregate: exact conditional counts of rows ``< vL`` / ``<= vH``
   per bracket (map-side combinable; no shuffle of data).
3. ONE filtered collect of the candidate rows inside the brackets —
   ≤ ~8·n/accuracy values per quantile by the GK bound.
4. Driver: verify from the EXACT counts that every needed rank is
   covered (if a sketch edge case leaves one out, fall back to the
   exact ``percentile`` aggregate — correctness never depends on the
   sketch), then pick the two neighbor values by rank and interpolate
   with the verbatim formula of Spark's ``Percentile.getPercentile``:
   ``(higher - position) * v_lo + (position - lower) * v_hi`` with
   ``position = p * (n - 1)`` — bit-identical doubles to the aggregate
   this replaces (pinned by tests against ``F.percentile`` on every SF).

Scale: passes 1–2 are full scans but map-combinable aggregates of a few
cells; the collect is O(n/accuracy) — size ``accuracy`` ∝ n to bound it
(at true 100 TB the callers' documented story swaps to the mergeable
sketch entirely; this keeps gate-exactness cheap at gate scale).
"""

from __future__ import annotations

import bisect
import math

from pyspark.sql import DataFrame, functions as F

#: GK sketch accuracy: rank error ≤ n/accuracy, candidate collect
#: O(n/accuracy) values per quantile.
DEFAULT_ACCURACY = 10_000


def exact_percentiles(df: DataFrame, col: str, ps: list[float],
                      accuracy: int = DEFAULT_ACCURACY) -> list[float | None]:
    """The exact values ``percentile(col, array(*ps))`` would return,
    as Python floats (None per entry when the column is all-NULL)."""
    eps = 3.0 / accuracy
    brackets = [(max(0.0, p - eps), min(1.0, p + eps)) for p in ps]
    flat = [q for b in brackets for q in b]
    qcsv = ", ".join(repr(q) for q in flat)
    c = F.col(col)
    row = df.agg(
        F.count(c).alias("n"),
        F.expr(f"approx_percentile({col}, array({qcsv}), {accuracy})")
        .alias("b")).first()
    n = row["n"]
    if n == 0:
        return [None] * len(ps)
    vls = [row["b"][2 * i] for i in range(len(ps))]
    vhs = [row["b"][2 * i + 1] for i in range(len(ps))]

    cnt_aggs = []
    for i, (vl, vh) in enumerate(zip(vls, vhs)):
        cnt_aggs.append(F.sum(F.when(c < vl, 1).otherwise(0))
                        .alias(f"lt{i}"))
        cnt_aggs.append(F.sum(F.when(c <= vh, 1).otherwise(0))
                        .alias(f"le{i}"))
    counts = df.agg(*cnt_aggs).first()

    positions = [p * (n - 1) for p in ps]
    covered = all(
        counts[f"lt{i}"] <= math.floor(positions[i])
        and counts[f"le{i}"] - 1 >= math.ceil(positions[i])
        for i in range(len(ps)))
    if not covered:  # sketch edge case: exactness never depends on it
        pcsv = ", ".join(repr(p) for p in ps)
        ex = df.agg(F.expr(f"percentile({col}, array({pcsv}))")).first()[0]
        return list(ex) if ex is not None else [None] * len(ps)

    cond = None
    for vl, vh in zip(vls, vhs):
        term = (c >= vl) & (c <= vh)
        cond = term if cond is None else (cond | term)
    cand = sorted(r[0] for r in df.filter(cond).select(c).collect())

    out: list[float | None] = []
    for i, pos in enumerate(positions):
        base = counts[f"lt{i}"]  # exact global rank of the first
        lo_c = bisect.bisect_left(cand, vls[i])  # candidate >= vL
        window = cand[lo_c:]

        def at(rank: int) -> float:
            return window[rank - base]

        lower, higher = math.floor(pos), math.ceil(pos)
        if lower == higher:
            out.append(at(lower))
        else:
            out.append((higher - pos) * at(lower)
                       + (pos - lower) * at(higher))
    return out


def round_half_up_py(x: float | None, digits: int) -> float | None:
    """Python twin of functions.rounding.round_half_up — identical
    IEEE-754 double arithmetic (x·10^d + 0.5, floor, ÷10^d)."""
    if x is None:
        return None
    factor = 10 ** digits
    return math.floor(x * factor + 0.5) / factor
