"""Temporal operator tests (SURVEY.md §2 Group C) vs pandas oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from featureextraction_jl_spark.operators import (
    asof_join,
    sessionize,
    forward_fill,
    backward_fill,
    with_lag_lead,
    rolling_rows,
    rolling_time,
    tumbling,
    latest_row,
)
from featureextraction_jl_spark.sources import generate_transcripts, generate_snapshots

from tests import oracle
from tests.oracle import asof_join_pandas


@pytest.fixture(scope="module")
def transcripts(spark):
    df = generate_transcripts(spark, num_convs=60, seed=42, max_turns=300,
                              mega_turns=800).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def snapshots(spark):
    df = generate_snapshots(spark, num_convs=60, seed=42, dim=4).cache()
    df.count()
    return df


def test_fixture_shape(transcripts):
    assert transcripts.count() > 1000
    assert transcripts.filter(F.col("tool").isNull()).count() > 0
    mega = transcripts.filter(F.col("conv_id") == "c00000000").count()
    assert mega == 800


# -- as-of join --------------------------------------------------------------

def _asof_oracle(lp, rp, direction, tol=None):
    out = []
    for conv, lgrp in lp.groupby("conv_id"):
        rgrp = rp[rp.conv_id == conv]
        lo = lgrp.sort_values("ts", kind="stable")
        if len(rgrp) == 0:
            m = lo.copy()
            m["snap_score"] = np.nan
            m["matched"] = pd.NaT
        else:
            ro = rgrp.sort_values("snapshot_ts")[["snapshot_ts", "snap_score"]]
            ro = ro.rename(columns={"snapshot_ts": "matched"})
            m = pd.merge_asof(lo, ro, left_on="ts", right_on="matched",
                              direction=direction,
                              tolerance=pd.Timedelta(seconds=tol) if tol else None)
        out.append(m)
    return pd.concat(out, ignore_index=True)


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_join_vs_pandas(spark, transcripts, snapshots, direction):
    left = transcripts.select("conv_id", "turn_idx", "ts")
    right = snapshots.select("conv_id", "snapshot_ts", "snap_score")
    got = asof_join(left, right, on="conv_id", left_ts="ts",
                    right_ts="snapshot_ts", direction=direction,
                    keep_match_ts=True).toPandas()
    want = _asof_oracle(left.toPandas(), right.toPandas(), direction)
    key = ["conv_id", "turn_idx"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    np.testing.assert_allclose(
        got["snap_score"].to_numpy(dtype=float),
        want["snap_score"].to_numpy(dtype=float),
        rtol=1e-12, equal_nan=True)
    assert got["matched_ts"].isna().equals(want["matched"].isna())
    pd.testing.assert_series_equal(
        got["matched_ts"], want["matched"], check_names=False)


def test_asof_tolerance(spark, transcripts, snapshots):
    left = transcripts.select("conv_id", "turn_idx", "ts")
    right = snapshots.select("conv_id", "snapshot_ts", "snap_score")
    tol = 3600.0
    got = asof_join(left, right, on="conv_id", left_ts="ts",
                    right_ts="snapshot_ts", direction="backward",
                    tolerance_seconds=tol).toPandas()
    want = _asof_oracle(left.toPandas(), right.toPandas(), "backward", tol=tol)
    key = ["conv_id", "turn_idx"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    np.testing.assert_allclose(got["snap_score"].astype(float),
                               want["snap_score"].astype(float),
                               rtol=1e-12, equal_nan=True)


def test_asof_pandas_impl_agrees(spark, transcripts, snapshots):
    left = transcripts.select("conv_id", "turn_idx", "ts")
    right = snapshots.select("conv_id", "snapshot_ts", "snap_score")
    a = asof_join(left, right, on="conv_id", left_ts="ts",
                  right_ts="snapshot_ts").toPandas()
    b = asof_join_pandas(left, right, on="conv_id", left_ts="ts",
                         right_ts="snapshot_ts").toPandas()
    key = ["conv_id", "turn_idx"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    np.testing.assert_allclose(a["snap_score"].astype(float),
                               b["snap_score"].astype(float),
                               rtol=1e-12, equal_nan=True)


def test_asof_leakage_free(spark, transcripts, snapshots):
    """§1.4.10: matched snapshot never postdates the left ts."""
    left = transcripts.select("conv_id", "turn_idx", "ts")
    right = snapshots.select("conv_id", "snapshot_ts", "snap_score")
    got = asof_join(left, right, on="conv_id", left_ts="ts",
                    right_ts="snapshot_ts", keep_match_ts=True)
    assert got.filter(F.col("matched_ts") > F.col("ts")).count() == 0


# -- sessionize --------------------------------------------------------------

def test_sessionize_vs_oracle(spark, transcripts):
    got = sessionize(transcripts, gap_seconds=1800.0,
                     order=["ts", "turn_idx"]).toPandas()
    for conv, grp in got.groupby("conv_id"):
        grp = grp.sort_values(["ts", "turn_idx"], kind="stable")
        want = oracle.sessionize(grp["ts"], 1800.0)
        np.testing.assert_array_equal(grp["session_id"].to_numpy(),
                                      want.to_numpy())


# -- backfill ----------------------------------------------------------------

def test_forward_fill(spark, transcripts):
    got = forward_fill(transcripts, "conv_id", ["ts", "turn_idx"],
                       ["tool"]).toPandas()
    raw = transcripts.toPandas()
    for conv, grp in raw.groupby("conv_id"):
        grp = grp.sort_values(["ts", "turn_idx"], kind="stable")
        want = oracle.forward_fill(grp["tool"])
        g = got[got.conv_id == conv].sort_values(["ts", "turn_idx"], kind="stable")
        assert list(g["tool"].fillna("␀")) == list(want.fillna("␀"))


def test_backward_fill(spark, transcripts):
    got = backward_fill(transcripts, "conv_id", ["ts", "turn_idx"],
                        ["tool"]).toPandas()
    raw = transcripts.toPandas()
    for conv, grp in raw.groupby("conv_id"):
        grp = grp.sort_values(["ts", "turn_idx"], kind="stable")
        want = grp["tool"].bfill()
        g = got[got.conv_id == conv].sort_values(["ts", "turn_idx"], kind="stable")
        assert list(g["tool"].fillna("␀")) == list(want.fillna("␀"))


# -- lag/lead & rolling ------------------------------------------------------

def test_lag_lead(spark, transcripts):
    got = with_lag_lead(transcripts, "conv_id", ["ts", "turn_idx"],
                        ["turn_idx"], offsets=(1, 2)).toPandas()
    for conv, grp in got.groupby("conv_id"):
        grp = grp.sort_values(["ts", "turn_idx"], kind="stable")
        np.testing.assert_array_equal(
            grp["lag_1_turn_idx"].to_numpy(dtype=float),
            grp["turn_idx"].shift(1).to_numpy(dtype=float))
        np.testing.assert_array_equal(
            grp["lead_2_turn_idx"].to_numpy(dtype=float),
            grp["turn_idx"].shift(-2).to_numpy(dtype=float))


def test_rolling_rows(spark, transcripts):
    df = transcripts.withColumn("v", F.length("text").cast("double"))
    got = rolling_rows(df, "conv_id", ["ts", "turn_idx"],
                       {"roll_mean": F.avg("v"), "roll_cnt": F.count("v")},
                       lookback_rows=4).toPandas()
    for conv, grp in got.groupby("conv_id"):
        grp = grp.sort_values(["ts", "turn_idx"], kind="stable")
        want = grp["v"].rolling(5, min_periods=1).mean()
        np.testing.assert_allclose(grp["roll_mean"].to_numpy(),
                                   want.to_numpy(), rtol=1e-12)


def test_rolling_time(spark, transcripts):
    df = transcripts.withColumn("v", F.lit(1.0))
    got = rolling_time(df, "conv_id", "ts", {"cnt_1h": F.count("v")},
                       lookback_seconds=3600.0).toPandas()
    sample = got[got.conv_id == got.conv_id.iloc[0]]
    ts = sample["ts"].to_numpy()
    for i in range(len(sample)):
        want = int(((ts <= ts[i]) & (ts >= ts[i] - np.timedelta64(3600, "s"))).sum())
        assert sample["cnt_1h"].iloc[i] == want


def test_tumbling(spark, transcripts):
    got = tumbling(transcripts, "conv_id", "ts", "1 hour",
                   [F.count(F.lit(1)).alias("n")]).toPandas()
    total = got["n"].sum()
    assert total == transcripts.count()


def test_latest_row(spark, transcripts):
    dup = transcripts.unionByName(transcripts.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")))
    got = latest_row(dup, ["conv_id", "turn_idx"], ["ts"])
    assert got.count() == transcripts.count()
    joined = got.alias("g").join(transcripts.alias("t"),
                                 on=["conv_id", "turn_idx"])
    assert joined.filter(
        F.col("g.ts") != F.col("t.ts") + F.expr("INTERVAL 1 SECOND")).count() == 0


# ---------------------------------------------------------------------------
# Property-based as-of gate (hypothesis): random key/ts layouts incl. ties,
# empty right sides, and single-row groups must match pandas merge_asof.
# ---------------------------------------------------------------------------

from hypothesis import given, settings, HealthCheck
from hypothesis import strategies as st


@st.composite
def asof_case(draw):
    n_keys = draw(st.integers(1, 4))
    left, right = [], []
    for k in range(n_keys):
        lts = draw(st.lists(st.integers(0, 50), min_size=1, max_size=12))
        rts = draw(st.lists(st.integers(0, 50), min_size=0, max_size=8,
                            unique=True))  # unique right ts: ties are
        # tie-BREAK-order dependent and pinned by a separate directed test
        left += [(f"k{k}", int(t)) for t in lts]
        right += [(f"k{k}", int(t), float(t) * 10 + k) for t in rts]
    return left, right


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(asof_case())
def test_asof_property_matches_pandas(spark, case):
    left, right = case
    base = pd.Timestamp(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(k, (base + pd.Timedelta(seconds=t)).to_pydatetime())
         for k, t in left], "key string, ts timestamp")
    rdf = spark.createDataFrame(
        [(k, (base + pd.Timedelta(seconds=t)).to_pydatetime(), v)
         for k, t, v in right], "key string, rts timestamp, payload double")

    for direction in ("backward", "forward"):
        got = asof_join(ldf, rdf, on="key", left_ts="ts", right_ts="rts",
                        direction=direction).toPandas()
        lp = pd.DataFrame(left, columns=["key", "t"])
        rp = pd.DataFrame(right, columns=["key", "t", "payload"])
        lp["ts"] = pd.Timestamp(2024, 1, 1) + pd.to_timedelta(lp.pop("t"), "s")
        rp["rts"] = pd.Timestamp(2024, 1, 1) + pd.to_timedelta(rp.pop("t"), "s")
        want = pd.merge_asof(lp.sort_values("ts", kind="stable"),
                             rp.sort_values("rts", kind="stable"),
                             left_on="ts", right_on="rts", by="key",
                             direction=direction).drop(columns=["rts"])
        g = got.sort_values(["key", "ts", "payload"],
                            na_position="last").reset_index(drop=True)
        w = want.sort_values(["key", "ts", "payload"],
                             na_position="last").reset_index(drop=True)
        gp = g["payload"].astype("float64").to_numpy()
        wp = w["payload"].astype("float64").to_numpy()
        assert len(g) == len(w), direction
        match = (gp == wp) | (np.isnan(gp) & np.isnan(wp))
        assert match.all(), f"{direction}: {g[~match]} vs {w[~match]}"


def test_asof_null_right_ts_never_matches(spark):
    """A right row with a NULL timestamp is unmatchable — unfiltered it
    would sort nulls-first in the backward sweep and attach its payload to
    every left row preceding the first real right row (with matched_ts
    NULL: a temporally untraceable, leakage-shaped match)."""
    from datetime import datetime

    T = datetime.fromisoformat
    left = spark.createDataFrame(
        [(1, 1, T("2024-01-01 10:00:00")),
         (1, 2, T("2024-01-01 12:00:00"))],
        "k long, event long, ts timestamp")
    right = spark.createDataFrame(
        [(1, None, 99.0),                           # NULL ts, poisonous payload
         (1, T("2024-01-01 11:00:00"), 7.0)],
        "k long, rts timestamp, payload double")
    out = {r["event"]: (r["payload"], r["matched_ts"]) for r in
           asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                     direction="backward", keep_match_ts=True).collect()}
    assert out[1] == (None, None)                   # nothing at or before 10:00
    assert out[2][0] == 7.0 and out[2][1] is not None


@st.composite
def session_case(draw):
    n_keys = draw(st.integers(1, 3))
    rows = []
    for k in range(n_keys):
        # integer-second gaps around the threshold, duplicates allowed
        ts = draw(st.lists(st.integers(0, 400), min_size=1, max_size=20))
        rows += [(f"k{k}", i, int(t)) for i, t in enumerate(sorted(ts))]
    gap = draw(st.sampled_from([1, 30, 100]))
    return rows, gap


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(session_case())
def test_sessionize_property_matches_python(spark, case):
    """Property gate for gap sessionization: random integer-second turn
    times (duplicates included, broken by turn_idx) against a direct
    Python fold — new session iff gap STRICTLY exceeds the threshold."""
    rows, gap = case
    base = pd.Timestamp(2024, 1, 1)
    df = spark.createDataFrame(
        [(k, i, (base + pd.Timedelta(seconds=t)).to_pydatetime())
         for k, i, t in rows], "key string, turn_idx long, ts timestamp")
    got = {(r["key"], r["turn_idx"]): r["session_id"] for r in
           sessionize(df, key="key", ts_col="ts", gap_seconds=float(gap),
                      order=["ts", "turn_idx"]).collect()}

    want = {}
    by_key: dict[str, list] = {}
    for k, i, t in rows:
        by_key.setdefault(k, []).append((t, i))
    for k, seq in by_key.items():
        seq.sort()
        sid, prev = 0, None
        for t, i in seq:
            if prev is not None and (t - prev) > gap:
                sid += 1
            want[(k, i)] = sid
            prev = t
    assert got == want


@st.composite
def fill_case(draw):
    n_keys = draw(st.integers(1, 3))
    rows = []
    for k in range(n_keys):
        n = draw(st.integers(1, 15))
        vals = draw(st.lists(st.one_of(st.none(),
                                       st.floats(-100, 100,
                                                 allow_nan=False)),
                             min_size=n, max_size=n))
        rows += [(f"k{k}", i, v) for i, v in enumerate(vals)]
    return rows


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(fill_case())
def test_fill_property_matches_pandas(spark, case):
    """Property gate for forward/backward fill: random null patterns per
    key (all-null and leading/trailing-null runs included) must equal
    pandas groupby ffill/bfill."""
    df = spark.createDataFrame(case, "key string, idx long, v double")
    pdf = pd.DataFrame(case, columns=["key", "idx", "v"]).sort_values(
        ["key", "idx"], kind="stable").reset_index(drop=True)
    for fn, ref in ((forward_fill, "ffill"), (backward_fill, "bfill")):
        got = fn(df, "key", "idx", ["v"]).toPandas().sort_values(
            ["key", "idx"], kind="stable").reset_index(drop=True)
        want = pdf.copy()
        want["v"] = want.groupby("key")["v"].transform(ref)
        g, w = got["v"].to_numpy(), want["v"].to_numpy()
        match = (g == w) | (pd.isna(g) & pd.isna(w))
        assert match.all(), f"{ref}: {got[~match]} vs {want[~match]}"


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(session_case())
def test_rolling_rows_property_matches_pandas(spark, case):
    """Property gate for the trailing rows-window mean: random turn times
    per key (duplicates broken by turn_idx) must equal pandas
    groupby.rolling(n, min_periods=1) over the same total order."""
    rows, _ = case
    df = spark.createDataFrame(
        [(k, i, float(t)) for k, i, t in rows],
        "key string, turn_idx long, v double")
    # lookback_rows=2 -> frame of 3 rows incl. current == pandas rolling(3)
    got = rolling_rows(df, "key", ["turn_idx"], {"v_avg": "v"},
                       lookback_rows=2).toPandas().sort_values(
        ["key", "turn_idx"], kind="stable").reset_index(drop=True)
    pdf = pd.DataFrame(rows, columns=["key", "turn_idx", "v"]).astype(
        {"v": "float64"}).sort_values(["key", "turn_idx"],
                                      kind="stable").reset_index(drop=True)
    want = pdf.groupby("key")["v"].rolling(3, min_periods=1) \
        .mean().reset_index(drop=True)
    np.testing.assert_allclose(got["v_avg"].to_numpy(),
                               want.to_numpy(), rtol=1e-12)


def test_asof_null_payload_stays_with_its_row(spark):
    """The sweep must carry the matched right ROW atomically: per-column
    last(ignorenulls) would pair an OLDER row's value with a NEWER row's
    matched_ts when the true match's payload is NULL (a frankenrow)."""
    from datetime import datetime

    T = datetime.fromisoformat
    left = spark.createDataFrame(
        [(1, 1, T("2024-01-01 11:30:00"))], "k long, event long, ts timestamp")
    right = spark.createDataFrame(
        [(1, T("2024-01-01 10:00:00"), 5.0),
         (1, T("2024-01-01 11:00:00"), None)],   # latest match, NULL value
        "k long, rts timestamp, payload double")
    row = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                    direction="backward", keep_match_ts=True).collect()[0]
    assert row["matched_ts"] == T("2024-01-01 11:00:00")
    assert row["payload"] is None     # the 11:00 row's value, not 10:00's 5.0


def test_asof_right_order_must_be_payload_columns(spark, transcripts, snapshots):
    """ADVICE r04: a right_order entry outside the right payload (the right
    ts column, an `on` key) would leave a stray NULL-on-left column or an
    ambiguous duplicate in the output — asof_join must reject it up front,
    mirroring the left_order/overlap checks."""
    left = transcripts.select("conv_id", "turn_idx", "ts")
    right = snapshots.select("conv_id", "snapshot_ts", "snap_score")
    for bad in ("snapshot_ts", "conv_id"):
        with pytest.raises(ValueError, match="right_order"):
            asof_join(left, right, on="conv_id", left_ts="ts",
                      right_ts="snapshot_ts", right_order=(bad,))
    # a genuine payload column stays accepted, and the output schema is clean
    ok = asof_join(left, right, on="conv_id", left_ts="ts",
                   right_ts="snapshot_ts", right_order=("snap_score",))
    assert sorted(ok.columns) == sorted(
        ["conv_id", "turn_idx", "ts", "snap_score"])


def test_rolling_time_exact_boundary_with_inexact_lookback(spark):
    """A row at exactly current - lookback IS aggregated even when
    lookback*1e6 is not exactly float-representable (8.2 -> 8199999.999...):
    int() truncation lost 1 us and dropped the boundary row, violating the
    documented closed interval."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    rows = [("a", t0, 1.0),
            ("a", t0 + dt.timedelta(seconds=8.2), 1.0)]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, v double")
    got = rolling_time(df, "conv_id", "ts", {"cnt": F.count("v")},
                       lookback_seconds=8.2).toPandas()
    got = got.sort_values("ts").reset_index(drop=True)
    assert got["cnt"].tolist() == [1, 2]  # boundary row included


def test_asof_pandas_tolerates_null_timestamps(spark):
    """The cross-check twin must survive NULL ts on either side like the
    production sweep does (drop null right-ts, pass through null left-ts
    unmatched) — pd.merge_asof otherwise raises on a single NaT key and a
    cross-check that dies on inputs the primary path tolerates checks
    nothing."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    left_rows = [("a", 0, t0 + dt.timedelta(minutes=5)),
                 ("a", 1, None)]
    right_rows = [("a", t0, 10.0),
                  ("a", None, 99.0)]
    left = spark.createDataFrame(
        left_rows, "conv_id string, turn_idx int, ts timestamp")
    right = spark.createDataFrame(
        right_rows, "conv_id string, snapshot_ts timestamp, snap_score double")
    # ALL three directions (round-5 review): the descending sweep's default
    # nulls-LAST ordering parked NULL-ts left rows after every right row,
    # so forward/nearest attached the earliest right payload to them — a
    # temporally untraceable, leakage-shaped match backward never made.
    for direction in ("backward", "forward", "nearest"):
        a = asof_join(left, right, on="conv_id", left_ts="ts",
                      right_ts="snapshot_ts", direction=direction).toPandas()
        b = asof_join_pandas(left, right, on="conv_id", left_ts="ts",
                             right_ts="snapshot_ts",
                             direction=direction).toPandas()
        for out in (a, b):
            out = out.sort_values("turn_idx").reset_index(drop=True)
            if direction == "backward":
                assert out.loc[0, "snap_score"] == 10.0  # never the NaT row
            # null left ts -> unmatched in EVERY direction
            assert pd.isna(out.loc[1, "snap_score"])


def test_asof_pandas_rejects_colliding_payload_columns(spark):
    """The cross-check twin must refuse colliding right payload names at
    plan time exactly like asof_join (round-5 review: it previously built
    a duplicate-name schema and died mid-job inside the Python worker with
    an opaque RESULT_COLUMN_NAMES_MISMATCH)."""
    import datetime as dt

    import pytest

    t0 = dt.datetime(2025, 1, 1)
    left = spark.createDataFrame([("a", t0, 1.0)],
                                 "conv_id string, ts timestamp, score double")
    right = spark.createDataFrame(
        [("a", t0, 2.0)],
        "conv_id string, snapshot_ts timestamp, score double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="conv_id", left_ts="ts",
                  right_ts="snapshot_ts")
    with pytest.raises(ValueError, match="collide"):
        asof_join_pandas(left, right, on="conv_id", left_ts="ts",
                         right_ts="snapshot_ts")


def test_asof_pandas_zero_tolerance_matches_production(spark):
    """tolerance_seconds=0.0 means exact-ts matches only — the pandas twin
    must not swallow the 0.0 into an unbounded match (falsy-zero bug)."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    left = spark.createDataFrame(
        [("a", 0, t0), ("a", 1, t0 + dt.timedelta(minutes=1))],
        "conv_id string, turn_idx int, ts timestamp")
    right = spark.createDataFrame(
        [("a", t0, 5.0)],
        "conv_id string, snapshot_ts timestamp, snap_score double")
    a = asof_join(left, right, on="conv_id", left_ts="ts",
                  right_ts="snapshot_ts", tolerance_seconds=0.0).toPandas()
    b = asof_join_pandas(left, right, on="conv_id", left_ts="ts",
                         right_ts="snapshot_ts",
                         tolerance_seconds=0.0).toPandas()
    for out in (a, b):
        out = out.sort_values("turn_idx").reset_index(drop=True)
        assert out.loc[0, "snap_score"] == 5.0    # exact ts: matched
        assert pd.isna(out.loc[1, "snap_score"])  # 1 min later: unmatched
