"""Point-in-time (as-of) join — the engine's core primitive (SURVEY.md §2 C1–C2).

For each left row (key, ts) attach the latest right row with
``right.ts <= left.ts`` (backward; zero temporal leakage by construction),
or the earliest with ``right.ts >= left.ts`` (forward), or the closer of the
two (nearest), optionally bounded by a tolerance.

Spark has no built-in batch as-of primitive, so :func:`asof_join` uses the
union trick: tag the sides, ``unionByName``, one Window
``last(right_col, ignorenulls=True)`` sweep ordered by ``(ts, side)``,
filter back to left rows.  Exactly ONE shuffle on the key, sort-merge
friendly, JVM-only (no Python worker), AQE-skew-splittable.  This is the
scale path: at 10^12 turns the whole join is one Exchange + one Sort per
side.  The cogrouped ``pandas.merge_asof`` cross-check it is tested
against lives in ``tests/oracle.py``.

Tie-break semantics (pinned by tests): if several right rows share one
``ts``, the last one under ``(ts, *right_order)`` wins — pass
``right_order`` for determinism when right ts duplicates are possible.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featureextraction_jl_spark.functions.timeutil import epoch_seconds

_SIDE = "__asof_side"
_MATCH_TS = "__asof_matched_ts"
_PAY = "__asof_payload"


def _union_sweep(left: DataFrame, right: DataFrame, on: Sequence[str],
                 left_ts: str, right_ts: str, right_cols: list[str],
                 descending: bool, right_order: Sequence[str],
                 left_order: Sequence[str] = ()) -> DataFrame:
    """Shared union+window sweep. descending=False -> backward as-of."""
    on = list(on)
    lhs = left.withColumn(_SIDE, F.lit(1))
    # A NULL right timestamp is unmatchable by definition — and unfiltered
    # it would sort nulls-FIRST in the ascending sweep, attaching its
    # payload to every left row that precedes the first real right row
    # (with matched_ts still NULL: a temporally untraceable, leakage-shaped
    # match).  Drop such rows before the union.
    # The whole right payload rides ONE struct so the sweep carries it
    # atomically: per-column last(ignorenulls) would otherwise pick an
    # OLDER row's value for a column that is NULL on the true match while
    # matched_ts advances to the newer row — a frankenrow mixing two right
    # rows.  The struct is non-null for every right row (its ts is
    # non-null), so last(ignorenulls) over it selects exactly the latest
    # delivered right ROW, null payload fields included.
    pay = F.struct(F.col(right_ts).alias(_MATCH_TS),
                   *[F.col(c) for c in right_cols]).alias(_PAY)
    rhs = right.filter(F.col(right_ts).isNotNull()).select(
        *on,
        F.col(right_ts).alias(left_ts),
        pay,
        # flat copies only for the right_order sort keys
        *[F.col(c) for c in right_order],
    ).withColumn(_SIDE, F.lit(0))

    unioned = lhs.unionByName(rhs, allowMissingColumns=True)

    # NULLS FIRST in BOTH directions: a NULL-ts left row must see no right
    # rows before it in the sweep, so it stays unmatched.  Ascending
    # already defaults to nulls-first, but descending defaults to nulls
    # LAST — which parked NULL-ts left rows after every right row and
    # attached the EARLIEST right payload to them in the forward/nearest
    # sweeps (round-5 review, confirmed live): a temporally untraceable,
    # leakage-shaped match the backward path and the pandas oracle
    # (tests/oracle.py) both refuse.
    ts_key = (F.col(left_ts).desc_nulls_first() if descending
              else F.col(left_ts).asc_nulls_first())
    # ``left_order`` columns slot BETWEEN ts and the side tag so that the
    # sweep's sort order (key, ts, left_order...) is a prefix superset of a
    # downstream Window's (key, ts, left_order...) — Catalyst then elides
    # the downstream Sort entirely (one sort per pass instead of two; the
    # sorts are the bandwidth-bound stages at wide parallelism).  Right
    # rows are missing every left_order column, so unionByName fills them
    # with NULL and nulls-first keeps them sorting BEFORE left rows at
    # equal ts — the inclusive-match invariant the side tag guarantees is
    # preserved independently of left_order.
    order = [ts_key]
    for c in left_order:
        order.append(F.col(c).desc_nulls_first() if descending
                     else F.col(c).asc_nulls_first())
    # side=0 (right) sorts before side=1 (left) at equal ts => inclusive match.
    order.append(F.col(_SIDE).asc())
    for c in right_order:
        order.append(F.col(c).desc() if descending else F.col(c).asc())
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*", F.last(_PAY, ignorenulls=True).over(w).alias(f"__f_{_PAY}"))
    out = filled.filter(F.col(_SIDE) == 1)
    for c in right_cols + [_MATCH_TS]:
        out = out.drop(c).withColumn(c, F.col(f"__f_{_PAY}").getField(c))
    return out.drop(_SIDE, _PAY, f"__f_{_PAY}")


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str] | str,
              left_ts: str = "ts", right_ts: str = "ts",
              direction: str = "backward",
              tolerance_seconds: float | None = None,
              right_order: Sequence[str] = (),
              left_order: Sequence[str] = (),
              keep_match_ts: bool = False) -> DataFrame:
    """Union-trick as-of join. One shuffle; no Python workers.

    ``direction``: backward | forward | nearest.
    ``tolerance_seconds``: unmatch rows whose |left.ts - matched ts| exceeds it.
    ``left_order``: extra LEFT-side tie-break columns folded into the sweep's
    sort between ts and the side tag.  Semantically free (see _union_sweep);
    pass the ordering your downstream per-key Windows use — e.g.
    ``("turn_idx",)`` when they order by ``(ts, turn_idx)`` — and their Sort
    is elided because the sweep already delivered that order.
    """
    on = [on] if isinstance(on, str) else list(on)
    right_cols = [c for c in right.columns if c not in on and c != right_ts]
    overlap = set(right_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"right payload columns collide with left: {sorted(overlap)}")
    missing = [c for c in left_order if c in right.columns]
    if missing:
        raise ValueError(
            f"left_order columns must not exist on the right side (they must "
            f"union as NULL for right rows to keep sorting first): {missing}")
    # right_order must be payload columns (ADVICE r04): the sweep selects a
    # flat copy of each right_order column for its sort, and the post-sweep
    # cleanup drops exactly right_cols — a right_order entry outside the
    # payload (the right ts column, an `on` key) would leave a stray
    # NULL-on-left column or an ambiguous duplicate name in the output.
    bad = [c for c in right_order if c not in right_cols]
    if bad:
        raise ValueError(
            f"right_order columns must be right-side payload columns "
            f"(not the key, not {right_ts!r}): {bad}")

    if direction in ("backward", "forward"):
        out = _union_sweep(left, right, on, left_ts, right_ts, right_cols,
                           descending=(direction == "forward"),
                           right_order=right_order, left_order=left_order)
    elif direction == "nearest":
        back = _union_sweep(left, right, on, left_ts, right_ts, right_cols,
                            descending=False, right_order=right_order,
                            left_order=left_order)
        bcols = {c: f"__b_{c}" for c in right_cols + [_MATCH_TS]}
        for c, a in bcols.items():
            back = back.withColumnRenamed(c, a)
        out = _union_sweep(back, right, on, left_ts, right_ts, right_cols,
                           descending=True, right_order=right_order,
                           left_order=left_order)
        lt = epoch_seconds(left_ts)
        bgap = F.abs(lt - epoch_seconds(F.col(bcols[_MATCH_TS])))
        fgap = F.abs(lt - epoch_seconds(F.col(_MATCH_TS)))
        use_b = F.col(bcols[_MATCH_TS]).isNotNull() & (
            F.col(_MATCH_TS).isNull() | (bgap <= fgap)
        )
        for c in right_cols + [_MATCH_TS]:
            out = out.withColumn(c, F.when(use_b, F.col(bcols[c])).otherwise(F.col(c)))
        out = out.drop(*bcols.values())
    else:
        raise ValueError(f"unknown direction {direction!r}")

    if tolerance_seconds is not None:
        gap = F.abs(epoch_seconds(left_ts) - epoch_seconds(F.col(_MATCH_TS)))
        within = F.col(_MATCH_TS).isNotNull() & (gap <= F.lit(float(tolerance_seconds)))
        for c in right_cols:
            out = out.withColumn(c, F.when(within, F.col(c)))
        out = out.withColumn(_MATCH_TS, F.when(within, F.col(_MATCH_TS)))
    if keep_match_ts:
        out = out.withColumnRenamed(_MATCH_TS, "matched_ts")
    else:
        out = out.drop(_MATCH_TS)
    return out

