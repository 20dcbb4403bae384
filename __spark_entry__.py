"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time feature pipeline on the
sf0.001 events table; ``queries()``/``oracle_sql()`` register every
implemented operator from SURVEY.md §2 with a DuckDB-checkable ANSI-SQL
twin.  Hash-stability conventions used throughout (the driver compares
order-insensitive value hashes):

* sums are computed in exact DECIMAL and cast to DOUBLE at the end, so both
  engines produce bit-identical doubles regardless of accumulation order;
* averages are decimal-sum / count, divided in DOUBLE;
* order-dependent float stats (stddev, corr, z-scores) are ROUNDed on both
  sides; timestamps are compared as epoch-second DOUBLEs;
* every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from featureextraction_jl_spark.functions.moments import (
    compute_grouped_moments,
    compute_moments,
)
from featureextraction_jl_spark.functions.pca import fit_pca, inverse_udf, project_udf
from featureextraction_jl_spark.functions.text import (
    LANG_STOPWORDS,
    QUALITY_STOPWORDS,
    langid_cols,
    quality_cols,
    token_count_cols,
)
from featureextraction_jl_spark.functions.timeutil import epoch_seconds
from featureextraction_jl_spark.operators.asof import asof_join
from featureextraction_jl_spark.operators.backfill import forward_fill
from featureextraction_jl_spark.operators.dedup import (
    PORTABLE_HASH_HEX_CHARS,
    exact_dedup,
    latest_row,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from featureextraction_jl_spark.operators.multimodal import (
    attach_media,
    extract_media_meta,
)
from featureextraction_jl_spark.operators.sessionize import sessionize, session_bounds
from featureextraction_jl_spark.operators.windows import rolling_rows, rolling_time
from featureextraction_jl_spark.plans.feature_job import FeatureJobConfig, run_features


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's events table to the transcript contract shape."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.coalesce(F.col("props"), F.lit("")).alias("text"),
        F.when(F.col("event_type") == "purchase", F.lit("checkout")).alias("tool"),
        F.col("ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full point-in-time feature job over sf0.001 events."""
    sf_dir = "/root/testdata/sf0.001"
    transcripts = _events_as_transcripts(spark, sf_dir)
    cfg = FeatureJobConfig(snap_dim=0, k=5, gap_seconds=1800.0)
    out, _model = run_features(transcripts, snapshots=None, cfg=cfg)
    return out


# ---------------------------------------------------------------------------
# Shared column helpers (hash-stable numerics)
# ---------------------------------------------------------------------------

def _dsum(col, scale: int = 4):
    """Exact decimal sum cast to double — order-insensitive bit-stable."""
    return F.sum(F.col(col).cast(f"decimal(27,{scale})")).cast("double")


def _davg(col, cnt_col=None, scale: int = 6):
    cnt = F.count(F.lit(1)) if cnt_col is None else F.count(cnt_col)
    return F.sum(F.col(col).cast(f"decimal(27,{scale})")).cast("double") / cnt


# ---------------------------------------------------------------------------
# Group D — relational operators
# ---------------------------------------------------------------------------

def q01_agg_pricing(spark, sf):
    """D7 hash aggregate (TPC-H Q1 shape): partial+final HashAggregate."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _davg("l_quantity").alias("avg_qty"),
            _davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q02_filter_predicates(spark, sf):
    """D2 predicates: between / range / isin — pushed to the parquet scan.
    (LIKE coverage lives in q15 where the strings are rich enough for a
    non-trivial pattern.)"""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate").between("1994-01-01", "1995-12-31")
            & F.col("l_discount").between(0.02, 0.09)
            & (F.col("l_quantity") < 24)
            & F.col("l_returnflag").isin("A", "N")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dsum("l_extendedprice").alias("sum_price"),
        )
    )


def q03_broadcast_join(spark, sf):
    """D3 broadcast equi-join across the dimension chain."""
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"),
             _dsum("s_acctbal").alias("sum_acctbal"))
    )


def q04_shuffle_join(spark, sf):
    """D4 large-large shuffle join (AQE picks SMJ/shuffled-hash)."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")))
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q05_outer_join(spark, sf):
    """D5 left outer join + conditional count of unmatched."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct(F.when(F.col("o_orderkey").isNull(), F.col("c_custkey")))
            .alias("n_no_orders"),
        )
    )


def q06_semi_anti(spark, sf):
    """D5 left_semi / left_anti existence and exclusion."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").count()
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").count()
    return spark.createDataFrame([(semi, anti)], "n_with_orders long, n_without long")


def q07_range_join(spark, sf):
    """D6 interval/theta join with an equi prefix (no cartesian blowup)."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= F.date_add(o.o_orderdate.cast("date"), 60))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_shipped_60d"))
    )


def q08_rollup(spark, sf):
    """D9 rollup + explicit GROUPING SETS, src-tagged in one result.

    The two multi-granularity forms (``df.rollup`` and SQL ``GROUPING
    SETS``) are unioned with a ``src`` discriminator so both stay inside the
    driver's correctness window as one query (cube is q09).
    """
    li = _t(spark, sf, "lineitem")
    roll = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("l_quantity").alias("sum_qty"))
        .withColumn("src", F.lit("rollup"))
    )
    li.createOrReplaceTempView("lineitem_gs")
    gsets = spark.sql("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
               'gsets' AS src
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)
    return roll.unionByName(gsets)


def q09_cube(spark, sf):
    """D9 cube with grouping_id."""
    li = _t(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.grouping_id().alias("gid"))
    )


def q10_distinct(spark, sf):
    """D8 distinct / approx-distinct / exact percentiles in one aggregate.

    ``approx_ok`` closes the HLL verification gap: the sketch value itself
    differs by engine, but |approx - exact| <= 3*rsd*exact is checkable —
    the oracle emits TRUE, so a drifting sketch fails the value hash
    instead of hiding behind `no_oracle`.
    """
    li = _t(spark, sf, "lineitem")
    exact = F.countDistinct("l_partkey")
    approx = F.approx_count_distinct("l_partkey", 0.01)
    return li.groupBy("l_returnflag").agg(
        exact.alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        (F.abs(approx.cast("double") - exact.cast("double"))
         <= 3 * 0.01 * exact.cast("double")).alias("approx_ok"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("p25_qty"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("p75_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


def q11_topk_global(spark, sf):
    """D10 global top-k via TakeOrdered (orderBy + limit)."""
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


def q12_topk_per_group(spark, sf):
    """D11 top-k per group via ranked Window."""
    c = _t(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "rn", "c_custkey", "c_acctbal")
    )


def q13_window_rank(spark, sf):
    """D12 ranking/analytic window family."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 500)
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_quantity"), F.col("l_orderkey"), F.col("l_linenumber"))
    return li.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q14_set_ops(spark, sf):
    """D13 intersect / except on key sets."""
    o = _t(spark, sf, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    both = urgent.intersect(high).count()
    only_urgent = urgent.distinct().exceptAll(high.distinct()).count()
    return spark.createDataFrame([(both, only_urgent)],
                                 "n_both long, n_only_urgent long")


def q15_string_fns(spark, sf):
    """D14 scalar string functions over documents."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.upper(F.substring("text", 1, 12)).alias("head_upper"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_ws_tokens"),
        F.regexp_extract("text", r"^(\w+)", 1).alias("first_word"),
        F.levenshtein("lang", F.lit("en")).alias("lang_lev"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
        # D2 LIKE coverage (q02's docstring points here): %infix% pattern
        F.col("text").like("%the%").alias("has_the"),
    )


def q16_datetime_fns(spark, sf):
    """D15 scalar date/time functions over events."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.hour("ts").alias("h"),
        (F.dayofweek("ts") - 1).alias("dow"),  # align to DuckDB 0=Sunday
        F.date_trunc("hour", F.col("ts")).cast("double").alias("hour_epoch"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .alias("days_since"),
        F.unix_timestamp("ts").alias("unix_sec"),
    )


def q17_math_fns(spark, sf):
    """D16 scalar math functions."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.log1p("l_quantity"), 6).alias("log1p_qty"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.round(F.pow(F.col("l_discount"), 2), 8).alias("disc_sq"),
        F.abs(F.col("l_quantity") - 25).cast("double").alias("abs_qty_dev"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


def q18_array_fns(spark, sf):
    """D17 array higher-order functions (JVM-side, no UDF) over embeddings."""
    e = _t(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sq = F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at(v, 1), 6).alias("first_val"),
        F.round(F.sqrt(sq), 6).alias("l2_norm"),
        F.round(F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda a, x: a + x), 6)
        .alias("head_sum"),
    )


def q19_json_fns(spark, sf):
    """D18 map/struct + D19 JSON functions as scalar-output columns.

    One events pass covers both families so each keeps a driver-checked
    representative inside the correctness window.
    """
    e = _t(spark, sf, "events")
    m = F.create_map(F.lit("type"), F.col("event_type"),
                     F.lit("uid"), F.col("user_id").cast("string"))
    s = F.struct(F.col("user_id").alias("uid"), F.col("value").alias("val"))
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        # try_cast via double, truncating: a direct string->long cast
        # diverges from DuckDB on non-integer JSON numbers (DuckDB's CAST
        # rounds '1.99'->2 and ERRORS on 'abc'; Spark's ANSI cast likewise
        # errors on malformed input).  Both sides now TRY-parse as double
        # then truncate toward zero; non-numeric -> NULL on both.
        F.get_json_object("props", "$.k").try_cast("double")
        .try_cast("long").alias("k_num"),
        m.getItem("type").alias("type_from_map"),
        m.getItem("uid").alias("uid_from_map"),
        F.size(m).alias("map_size"),
        F.array_join(F.map_keys(m), ",").alias("keys_joined"),
        s.getField("uid").alias("uid_from_struct"),
        s.getField("val").alias("val_from_struct"),
    )


def q20_case_nullsafe(spark, sf):
    """D1/D2 case/when, coalesce, null-safe equality."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.when(F.col("value") > 50, "hi").when(F.col("value") > 10, "mid")
        .otherwise("lo").alias("bucket"),
        F.coalesce("value", F.lit(-1.0)).alias("value_filled"),
        F.col("event_type").eqNullSafe("purchase").alias("is_purchase"),
    )


# ---------------------------------------------------------------------------
# Group C — temporal operators (events as the stream bed)
# ---------------------------------------------------------------------------

def q21_sessionize(spark, sf):
    """C5 gap-based sessionization (30-minute gap)."""
    e = _t(spark, sf, "events")
    out = sessionize(e, key="user_id", ts_col="ts", gap_seconds=1800.0,
                     order=["ts", "event_id"])
    return out.select("user_id", "event_id", "session_id")


def q22_lag_lead(spark, sf):
    """C3 lag/lead per entity."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        (epoch_seconds("ts") - F.lag(epoch_seconds("ts")).over(w)).alias("gap_sec"),
    )


def q23_rolling_rows(spark, sf):
    """C4 trailing row-count window."""
    e = _t(spark, sf, "events")
    out = rolling_rows(e, "user_id", ["ts", "event_id"],
                       {"roll_avg_raw": F.avg("value"),
                        "roll_max": F.max("value"),
                        "roll_n": F.count("value")},
                       lookback_rows=4)
    return out.select("user_id", "event_id",
                      F.round("roll_avg_raw", 6).alias("roll_avg"),
                      "roll_max", "roll_n")


def q24_rolling_time(spark, sf):
    """C4 trailing time window (1 hour)."""
    e = _t(spark, sf, "events")
    out = rolling_time(e, "user_id", "ts", {"n_1h": F.count(F.lit(1))},
                       lookback_seconds=3600.0)
    return out.select("user_id", "event_id", "n_1h")


def q25_asof_backward(spark, sf):
    """C1/C2 backward as-of join, unbounded + 2-hour-tolerance columns.

    ONE union-trick sweep (keep_match_ts=True) feeds both outputs: the
    latest purchase at or before each event, and the same match nulled when
    it falls outside the trailing 2 hours — the tolerance variant shares the
    sweep instead of costing a second query slot.
    """
    e = _t(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("purchase_value"))
    out = asof_join(e.select("user_id", "event_id", "ts"), purchases,
                    on="user_id", left_ts="ts", right_ts="pts",
                    direction="backward", right_order=["purchase_value"],
                    keep_match_ts=True)
    within = F.col("matched_ts").isNotNull() & (
        (epoch_seconds("ts") - epoch_seconds(F.col("matched_ts"))) <= 7200.0)
    return out.select(
        "user_id", "event_id", "purchase_value",
        F.when(within, F.col("purchase_value")).alias("purchase_value_2h"))


def q26_asof_forward(spark, sf):
    """C2 forward + nearest as-of in one result.

    The nearest variant needs both directional sweeps anyway, so q26 chains
    backward-then-forward (exactly what direction="nearest" does internally)
    and emits the forward match AND the nearest-of-both — tie at equal
    distance goes to the backward match (pinned in asof.py and mirrored by
    the oracle's <= comparison).
    """
    e = _t(spark, sf, "events")
    pb = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("bval"))
    back = asof_join(e.select("user_id", "event_id", "ts"), pb,
                     on="user_id", left_ts="ts", right_ts="pts",
                     direction="backward", right_order=["bval"],
                     keep_match_ts=True).withColumnRenamed("matched_ts", "bts")
    pf = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("next_purchase"))
    both = asof_join(back, pf, on="user_id", left_ts="ts", right_ts="pts",
                     direction="forward", right_order=["next_purchase"],
                     keep_match_ts=True)
    lt = epoch_seconds("ts")
    bgap = lt - epoch_seconds(F.col("bts"))
    fgap = epoch_seconds(F.col("matched_ts")) - lt
    use_b = F.col("bts").isNotNull() & (
        F.col("matched_ts").isNull() | (bgap <= fgap))
    return both.select(
        "user_id", "event_id", "next_purchase",
        F.when(use_b, F.col("bval")).otherwise(F.col("next_purchase"))
        .alias("nearest_purchase"))


def q27_backfill(spark, sf):
    """C6 forward-fill: propagate last purchase value onto every event."""
    e = _t(spark, sf, "events")
    marked = e.withColumn(
        "purchase_value",
        F.when(F.col("event_type") == "purchase", F.col("value")))
    out = forward_fill(marked, "user_id", ["ts", "event_id"], ["purchase_value"])
    return out.select("user_id", "event_id", "purchase_value")


def q28_dedup_latest(spark, sf):
    """C9 latest-row dedup per entity."""
    e = _t(spark, sf, "events")
    out = latest_row(e, ["user_id"], ["ts", "event_id"])
    return out.select("user_id", "event_id", "value")


def q29_tumbling(spark, sf):
    """C7 tumbling window aggregation (1 hour buckets)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id", F.date_trunc("hour", "ts").cast("double").alias("hour_epoch"))
        .agg(F.count(F.lit(1)).alias("n"), _dsum("value").alias("sum_value"))
    )


def q30_session_stats(spark, sf):
    """C5 session bounds + stats on top of sessionization."""
    e = _t(spark, sf, "events")
    sess = sessionize(e, key="user_id", ts_col="ts", gap_seconds=1800.0,
                      order=["ts", "event_id"])
    out = session_bounds(sess, key="user_id", ts_col="ts")
    return out.select(
        "user_id", "session_id",
        epoch_seconds("session_start").alias("start_epoch"),
        (epoch_seconds("session_end") - epoch_seconds("session_start"))
        .alias("duration_sec"),
        "n_turns",
    )


def q50_session_window(spark, sf):
    """C5/C7 native ``session_window`` aggregation, pinned against q21/q30.

    Spark's built-in session window merges an event landing at EXACTLY
    last_ts + gap into the running session (probed empirically), i.e. a new
    session starts only when gap > 30min — identical semantics to the
    cumulative-sum sessionize (q21), so the same DuckDB oracle shape checks
    both.  At scale this is the one-shuffle streaming-compatible form of
    sessionization (groupBy user + session_window, partial-merge capable).
    """
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_turns"),
             _dsum("value").alias("sum_value"))
        .select("user_id",
                epoch_seconds(F.col("session_window.start")).alias("start_epoch"),
                "n_turns", "sum_value")
    )


# ---------------------------------------------------------------------------
# Group A — statistical kernels as oracle-checked queries
# ---------------------------------------------------------------------------

def q31_zscore_global(spark, sf):
    """A2 global z-score (pure Catalyst two-pass; §1.4.3 guard)."""
    li = _t(spark, sf, "lineitem")
    stats = li.agg(F.avg("l_quantity").alias("mu"),
                   F.stddev_samp("l_quantity").alias("sd")).collect()[0]
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round((F.col("l_quantity") - F.lit(stats["mu"])) / F.lit(stats["sd"]), 4)
        .alias("z_qty"),
    )


def q32_zscore_group(spark, sf):
    """A2 per-group z-score via one Window chain."""
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round((F.col("l_quantity") - F.avg("l_quantity").over(w))
                / F.stddev_samp("l_quantity").over(w), 4).alias("z_qty"),
    )


def q33_cov_corr(spark, sf):
    """A4 covariance / correlation finalize."""
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_qp"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covp_qp"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 8).alias("corr_qp"),
        F.round(F.stddev_samp("l_quantity"), 8).alias("sd_q"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_q"),
    )


def q34_dim_means(spark, sf):
    """A3 per-dimension moments of the embedding table (posexplode path)."""
    e = _t(spark, sf, "embeddings")
    return (
        e.select("vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
                 .alias("pos", "val"))
        .groupBy("pos")
        .agg(F.round(F.avg("val"), 8).alias("dim_mean"),
             F.round(F.stddev_samp("val"), 8).alias("dim_sd"))
    )


def q35_pca_project(spark, sf):
    """A5/A6/A8 PCA-whitening fit + projection + inverse, value-oracled.

    eigh itself is not SQL-expressible, but two per-row invariants of the
    full-rank (k=p) whitening pipeline are, with the independently-fitted
    NumPy model inlined as literals in the oracle (:func:`_q35_oracle` —
    the q45 hyperplane trick):

    * ``maha2`` = ||whitened projection||^2 = (x-mu)' Sigma^{-1} (x-mu) —
      the Mahalanobis form is invariant to eigenvector basis/sign/order, so
      it is numerically robust where raw per-component values are not
      (near-degenerate eigenvalues rotate eigenvectors arbitrarily);
    * ``recon_err`` = ||x - inverse(project(x))|| — exactly 0 at k=p, so the
      A8 roundtrip is pinned at the driver surface (oracle emits 0.0).

    Per-component values + sign fix + descending order stay pytest-gated
    against the NumPy oracle (tests/test_kernels.py).
    """
    e = _t(spark, sf, "embeddings")
    df = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    m = compute_moments(df, "v")
    model = fit_pca(m, k=None, mode="pca_whiten")
    proj = df.select("vec_id", "v", project_udf(model, "v").alias("pc"))
    maha2 = F.aggregate(F.transform("pc", lambda x: x * x), F.lit(0.0),
                        lambda acc, x: acc + x)
    recon = inverse_udf(model, "pc")
    err2 = F.aggregate(F.zip_with("v", recon, lambda a, b: (a - b) * (a - b)),
                       F.lit(0.0), lambda acc, x: acc + x)
    return proj.select("vec_id",
                       F.round(maha2, 4).alias("maha2"),
                       F.round(F.sqrt(err2), 6).alias("recon_err"))


def q36_grouped_moments(spark, sf):
    """A3 grouped moments at the driver surface, through the one moments
    core (``compute_grouped_moments``).

    Each lineitem partition emits one (n, mean, m2) partial per
    l_returnflag it holds and only those partials are shuffled to the
    per-flag re-merge: the partition id is the salt (E1), so the driver's
    value check covers the partial + re-merge path.  The Chan merge is
    exact, so the moments match DuckDB's AVG/VAR_SAMP/COVAR_SAMP to well
    under the 6-dp rounding.
    """
    li = _t(spark, sf, "lineitem")
    vecs = li.select(
        "l_returnflag",
        F.array(F.col("l_quantity").cast("double"),
                F.col("l_discount").cast("double")).alias("v"))
    m = compute_grouped_moments(vecs, ["l_returnflag"], "v")
    nm1 = (F.col("n") - 1).cast("double")
    return m.select(
        "l_returnflag", "n",
        F.round(F.element_at("mean", 1), 6).alias("mean_qty"),
        F.round(F.element_at("mean", 2), 6).alias("mean_disc"),
        F.round(F.element_at("m2", 1) / nm1, 6).alias("var_qty"),
        F.round(F.element_at("m2", 2) / nm1, 6).alias("cov_qd"),
        F.round(F.element_at("m2", 4) / nm1, 6).alias("var_disc"),
    )


# ---------------------------------------------------------------------------
# Training-data operators — dedup / similarity / text analysis
# ---------------------------------------------------------------------------

def q37_exact_dedup(spark, sf):
    """Exact content dedup: min-id survivor per byte-identical text."""
    d = _t(spark, sf, "documents")
    return exact_dedup(d, "text", "doc_id").select("doc_id", "n_chars")


def q38_token_count(spark, sf):
    """Token counting: whitespace tokens + BPE-ish word/number pieces.

    Expressions live in functions/text.py (shared with the curation
    pipeline) — this query pins the library builder to the DuckDB oracle.
    """
    d = _t(spark, sf, "documents")
    return d.select("doc_id", *token_count_cols("text"))


def q39_quality_score(spark, sf):
    """Quality scoring: length / punctuation / digit / stopword signals
    (functions/text.py builder, oracle-pinned here)."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", *quality_cols("text"))


def q40_langid(spark, sf):
    """Language-ID heuristic: stopword votes per language, argmax label
    (functions/text.py builder, oracle-pinned here)."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", *langid_cols("text"))


#: q41/q48/q49 MinHash-LSH parameters, shared between the Spark calls and
#: the oracle CTE builder (_minhash_pairs_cte) so neither side can silently
#: desynchronize (mirrors the Q45 dict pattern).
#: max_bucket=None — the oracle CTE enumerates the EXACT LSH candidate set,
#: so the Spark side opts out of the production default's degenerate-bucket
#: cap (minhash_lsh_pairs defaults to a finite cap since round 5; the q41
#: corpus is far below it either way, but the contract is explicit).
Q41 = dict(num_hashes=32, bands=8, k=5, max_bucket=None)

#: q43 stop-gram pruning fraction, shared by the Spark call and the oracle
#: SQL. Both sides evaluate the same IEEE-double expression
#: ``df > n_docs * 0.1`` (integer df promoted to double), so the cut is
#: bit-identical even though 0.1 itself is not exactly representable.
Q43_MAX_DF_FRAC = 0.1

#: q43 Jaccard similarity cut, shared by the Spark call and the oracle SQL
#: (round-5 review: the 0.5 literal lived independently on both sides —
#: the desync hazard the Q41/Q45 shared-dict pattern exists to prevent).
Q43_THRESHOLD = 0.5

#: q42 SimHash shape, shared by the Spark call and the oracle SQL: bits =
#: fingerprint width (oracle bit loop + vote mask), n = character-gram
#: width (oracle substr length and position bound derive from it).
Q42 = dict(bits=16, n=3)


def _sql_in(words) -> str:
    """('a','b') -> ``('a','b')`` — SQL IN-list rendered from a shared
    constant (q39/q40 stopword sets), so the engine expression and the
    oracle SQL consume ONE definition."""
    return "(" + ",".join(f"'{w}'" for w in words) + ")"


def q41_minhash_pairs(spark, sf):
    """MinHash+LSH near-dup candidates — fully DuckDB-oracled.

    ``portable=True``: md5-based 60-bit gram hashes and comma-joined band
    keys, both reproducible in ANSI SQL; the Carter–Wegman coefficients are
    inlined as literals in the oracle (built by :func:`_q41_oracle`).  The
    production scale path keeps xxhash64 (portable=False).
    """
    d = _t(spark, sf, "documents")
    return minhash_lsh_pairs(d, "text", "doc_id", portable=True, **Q41)


def q42_simhash(spark, sf):
    """SimHash fingerprints, portable md5-gram hash => full DuckDB oracle.

    Per bit b of the 60-bit gram hash: vote +1/-1 over distinct lowercase
    3-grams; fingerprint bit set iff the vote is positive.  The oracle
    rebuilds the identical votes with unnested substrings + md5 in SQL.
    """
    d = _t(spark, sf, "documents")
    return simhash(d, "text", "doc_id", portable=True, **Q42)


def q43_ngram_jaccard(spark, sf):
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    Character-gram sets, |intersection| by groupBy count over the shared-gram
    join, Jaccard = inter / (|A|+|B|-inter) — the standard scalable
    set-similarity plan; the oracle rebuilds it with unnested substrings.
    """
    d = _t(spark, sf, "documents")
    # Stop-gram pruning (the scale guard against quadratic hot-gram joins)
    # BINDS at 10% document frequency, and the DuckDB oracle applies the
    # IDENTICAL pruning so values still match exactly — Jaccard is then
    # exact over the pruned (rare-gram) space, the standard stop-gram
    # semantics.  The round-2 non-binding 97% threshold kept oracle parity
    # but let near-universal grams explode the self-join quadratically off
    # the gate scale: measured 2.21e9 join rows unpruned at sf0.1 (never
    # finishes) vs 4.3e6 at 10% (seconds).  max_df_frac resolves the
    # threshold INSIDE the plan (count(1) aggregate broadcast onto the
    # per-gram DF frame) — no separate driver-side full-corpus count action.
    # Set sizes ride on the gram frame as a window count (BENCH/q43_ab.json).
    # max_df=None opts out of the production default's absolute stop-gram
    # cap (q41's max_bucket pattern): the oracle CTE mirrors ONLY the
    # fractional pruning, and above 20k docs the default 2000 cap would
    # bind below 10%*n and silently desync the two sides.
    out = ngram_jaccard_pairs(d, "text", "doc_id", n=3,
                              threshold=Q43_THRESHOLD,
                              max_df=None, max_df_frac=Q43_MAX_DF_FRAC)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q47_media_meta(spark, sf):
    """Multimodal plumbing: binary payload column -> typed metadata struct.

    Payloads are deterministic magic+UTF-8 blobs (attach_media), metadata is
    extracted with Arrow-batched mapInPandas over the binary column; the
    oracle reconstructs every field (length, magic hex, content md5) in SQL.
    """
    d = _t(spark, sf, "documents")
    return extract_media_meta(attach_media(d, "doc_id", "text"))


def q48_dedup_clusters(spark, sf):
    """Near-dup clustering: connected components over MinHash-LSH pairs.

    Iterative min-label propagation (operators/dedup.py); the oracle
    computes the same components with a recursive transitive closure over
    the identical portable candidate-pair SQL.
    """
    from featureextraction_jl_spark.operators.dedup import connected_components
    d = _t(spark, sf, "documents")
    pairs = minhash_lsh_pairs(d, "text", "doc_id", portable=True, **Q41)
    return connected_components(pairs, d.select("doc_id"), "doc_id")


def q49_near_dedup_survivors(spark, sf):
    """Corpus after near-dedup: min-id survivor per near-dup component."""
    from featureextraction_jl_spark.operators.dedup import near_dedup_survivors
    d = _t(spark, sf, "documents")
    pairs = minhash_lsh_pairs(d, "text", "doc_id", portable=True, **Q41)
    return near_dedup_survivors(d, pairs, "doc_id").select("doc_id", "n_chars")


def q44_cosine_topk(spark, sf):
    """Brute-force cosine top-k similarity search (baseline ANN path)."""
    e = _t(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    q = e.filter(F.col("vec_id") == 0).select(v.alias("qv")).collect()[0]["qv"]
    qarr = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(F.zip_with(v, qarr, lambda a, b: a * b), F.lit(0.0),
                      lambda acc, x: acc + x)
    nrm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0),
                             lambda acc, x: acc + x))
    qn = float(sum(x * x for x in q) ** 0.5)
    return (
        e.select("vec_id", F.round(dot / (nrm * F.lit(qn)), 6).alias("cosine"))
        .filter(F.col("vec_id") != 0)
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


#: q45 parameters, shared between the Spark query and its oracle builder.
#: threshold 0.3 yields ~1k true pairs on the driver's isotropic 64-dim
#: embeddings (round-1 q45 used 0.5 => 0 rows, vacuous); 8 tables x 6
#: planes gives 64 buckets/table (~n/64 per bucket) and meaningful recall.
Q45 = dict(threshold=0.3, n_planes=6, n_tables=8, max_bucket=200, dim=64)


def q45_ann_lsh(spark, sf):
    """Multi-table hyperplane-LSH ANN — fully DuckDB-oracled.

    The fixed seeded hyperplanes are inlined as literals in the oracle SQL
    (:func:`_q45_oracle`), so bucket assignment, the bucket-width cap, the
    candidate self-join, and the exact within-candidate cosines are all
    value-checked, not just row-counted.  Recall vs the q44 brute force is
    pinned separately in tests/test_dedup.py on planted near-dup clusters.
    """
    from featureextraction_jl_spark.operators.dedup import embedding_near_dup_pairs
    e = _t(spark, sf, "embeddings")
    out = embedding_near_dup_pairs(
        e, "embedding", "vec_id", threshold=Q45["threshold"],
        n_planes=Q45["n_planes"], n_tables=Q45["n_tables"],
        max_bucket=Q45["max_bucket"], dim=Q45["dim"])  # dim known: no probe job
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q46_doc_fingerprint(spark, sf):
    """Document fingerprinting: md5 content digest + distinct 5-gram count.

    md5 (not xxhash64) so the digest is engine-portable and the DuckDB
    oracle checks values, not just shape; the shingle count is the exact
    distinct-substring count the near-dup family operates on.
    """
    d = _t(spark, sf, "documents")
    # Gate AND positions both derive from length(lower(text)) (ADVICE r03:
    # deriving the gate from the RAW length would desynchronize gate and
    # positions within one engine when lower() changes string length).
    # NOTE this keeps each engine internally consistent only; JVM vs DuckDB
    # case-table differences on chars like U+0130 remain a documented
    # cross-engine boundary (oracle_sql docstring).
    n_shingles = F.when(
        F.length(F.lower(F.col("text"))) >= 5,
        F.size(F.array_distinct(F.expr(
            "transform(sequence(1, length(lower(text)) - 4),"
            " i -> substring(lower(text), i, 5))")))
    ).otherwise(F.lit(0))
    return d.select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        n_shingles.cast("long").alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# Registry + oracles
# ---------------------------------------------------------------------------

def _minhash_pairs_cte() -> str:
    """The shared CTE chain reproducing the portable MinHash+LSH candidate
    pairs in DuckDB (gram md5 hashes, Carter–Wegman literals, band keys);
    ends with a ``pairs(id_a, id_b)`` CTE for q41/q48/q49 to build on.

    Every parameter derives from the same ``Q41`` dict / dedup-module
    constants the Spark calls use — neither side can silently drift.  Gram
    positions use ``length(lower(text))`` exactly like shingle_hashes so
    gate and positions stay internally consistent; JVM-vs-utf8proc case
    mapping differences remain a cross-engine boundary (oracle_sql
    docstring).
    """
    from featureextraction_jl_spark.operators.dedup import (
        MINHASH_P, PORTABLE_HASH_HEX_CHARS, carter_wegman_coefs)

    p = MINHASH_P
    nh, bands, k = Q41["num_hashes"], Q41["bands"], Q41["k"]
    assert nh % bands == 0
    r = nh // bands
    hexw = PORTABLE_HASH_HEX_CHARS
    coefs = carter_wegman_coefs(nh)
    mins = ",\n                   ".join(
        f"MIN(((h % {p}) * {a} + {b}) % {p}) AS mh_{i}"
        for i, (a, b) in enumerate(coefs))
    band_rows = "\n                UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        + " AS band_hash FROM sig"
        for b in range(bands))
    return f"""grams AS (
                SELECT DISTINCT doc_id,
                       ('0x' || substr(md5(g), 1, {hexw}))::BIGINT AS h
                FROM (SELECT doc_id,
                             unnest(list_transform(
                                 range(1, GREATEST(length(lower(text)) - {k - 1}, 1) + 1),
                                 i -> substr(lower(text), CAST(i AS INT), {k}))) AS g
                      FROM documents)
            ),
            sig AS (
                SELECT doc_id,
                   {mins}
                FROM grams GROUP BY doc_id
            ),
            bands AS (
                {band_rows}
            ),
            pairs AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b USING (band, band_hash)
                WHERE a.doc_id < b.doc_id
            )"""


def _q41_oracle() -> str:
    """DuckDB twin of the portable MinHash+LSH path, built programmatically.

    Same gram space (distinct lowercase 5-grams, md5 60-bit hash), same
    Carter–Wegman coefficients (inlined as literals from the shared seeded
    generator), same comma-joined band keys — so the candidate pair set is
    value-identical, not merely row-counted.
    """
    return f"""
            WITH {_minhash_pairs_cte()}
            SELECT id_a, id_b FROM pairs
        """


#: the recursive transitive-closure min-label (fine at oracle scale; the
#: Spark side uses iterative min-label propagation instead)
_CC_CTE = """
            edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs
            ),
            reach(u, v) AS (
                SELECT u, v FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            ),
            clusters AS (
                SELECT d.doc_id,
                       CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id))
                            AS BIGINT) AS cluster_id
                FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
                GROUP BY d.doc_id
            )"""


def _q48_oracle() -> str:
    return f"""
            WITH RECURSIVE {_minhash_pairs_cte()},{_CC_CTE}
            SELECT doc_id, cluster_id FROM clusters
        """


def _q49_oracle() -> str:
    return f"""
            WITH RECURSIVE {_minhash_pairs_cte()},{_CC_CTE}
            SELECT d.doc_id, d.n_chars
            FROM documents d JOIN clusters c
              ON d.doc_id = c.doc_id AND d.doc_id = c.cluster_id
        """


def _q45_oracle() -> str:
    """DuckDB twin of the hyperplane-LSH ANN path.

    The seeded hyperplanes are inlined as DOUBLE literals (17 significant
    digits — exact float64 round-trip), reproducing bucket assignment, the
    bucket-width cap, candidate generation, and the exact cosine filter.
    """
    from featureextraction_jl_spark.operators.dedup import hyperplanes

    t, m, dim = Q45["n_tables"], Q45["n_planes"], Q45["dim"]
    planes = hyperplanes(t, m, dim)
    bucket_exprs = []
    for ti in range(t):
        cases = []
        for j in range(m):
            lits = ",".join(f"{x:.17e}" for x in planes[ti, j])
            dot = (f"list_sum(list_transform(range(1, {dim + 1}), "
                   f"i -> v[i] * ([{lits}])[i]))")
            cases.append(f"CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END")
        bucket_exprs.append("(" + " + ".join(cases) + f") AS b{ti}")
    bucket_sel = ",\n                       ".join(bucket_exprs)
    buck_rows = "\n                UNION ALL ".join(
        f"SELECT vec_id, {ti} AS tbl, b{ti} AS bucket FROM t" for ti in range(t))
    return f"""
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            t AS (SELECT vec_id, v,
                       {bucket_sel}
                  FROM e),
            buck AS (
                {buck_rows}
            ),
            wide AS (SELECT tbl, bucket FROM buck GROUP BY tbl, bucket
                     HAVING COUNT(*) > {Q45["max_bucket"]}),
            ok AS (SELECT b.vec_id, b.tbl, b.bucket
                   FROM buck b LEFT JOIN wide w
                     ON b.tbl = w.tbl AND b.bucket = w.bucket
                   WHERE w.tbl IS NULL),
            cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                     FROM ok a JOIN ok b
                       ON a.tbl = b.tbl AND a.bucket = b.bucket
                      AND a.vec_id < b.vec_id),
            vec AS (SELECT vec_id, v,
                           SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm
                    FROM e),
            cos AS (SELECT id_a, id_b,
                           list_sum(list_transform(range(1, {dim + 1}),
                               i -> va.v[i] * vb.v[i])) / (va.nrm * vb.nrm) AS c
                    FROM cand
                    JOIN vec va ON va.vec_id = id_a
                    JOIN vec vb ON vb.vec_id = id_b)
            SELECT id_a, id_b, ROUND(c, 6) AS cosine
            FROM cos WHERE c >= {Q45["threshold"]}
        """


def _q35_oracle() -> str:
    """Independent NumPy refit of the q35 whitening model, inlined as literals.

    Reads the embeddings parquet at the driver's compare scale (sf0.01, the
    same default tests/test_queries.py uses; override with
    SPARK_GRAFT_SF_DIR_TEST).  CAVEAT: oracle_sql() strings carry no runtime
    sf parameter (driver contract), so the model literals inlined here are
    fitted at THAT scale regardless of the sf dir the Spark query reads —
    comparing q35 at any other scale requires setting SPARK_GRAFT_SF_DIR_TEST
    to the same dir or every maha2/recon_err value mismatches by
    construction.  Emits SQL computing the Mahalanobis form
    (x-mu)' Sigma^{-1} (x-mu) per row, with mu and
    Sigma^{-1} = V diag(1/(lam+EPS)) V' inlined as 17-digit DOUBLE literals
    (exact float64 round-trip — the q45 hyperplane trick).  For the
    full-rank whitening model this equals ||pc||^2 exactly and is invariant
    to eigenvector basis/sign/order, so agreement after ROUND(.,4) checks
    that the distributed moments (Arrow partials + Chan merge) and the
    projection UDF match an INDEPENDENT NumPy fit — a true value oracle for
    the only query that previously had none.  recon_err is exactly 0 at
    k=p (A8 roundtrip), emitted as the constant the Spark side must hit.
    """
    import numpy as np
    import pyarrow.parquet as pq

    from featureextraction_jl_spark.functions.pca import EPS

    sfd = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
    col = pq.read_table(os.path.join(sfd, "embeddings.parquet"),
                        columns=["embedding"]).column("embedding")
    col = col.combine_chunks()
    n = len(col)
    x = np.asarray(col.values, dtype=np.float64).reshape(n, -1)
    mu = x.mean(axis=0)
    xc = x - mu
    cov = (xc.T @ xc) / (n - 1)
    lam, vec = np.linalg.eigh(cov)
    lam = np.clip(lam, 0.0, None)
    # whitening factor A = diag(1/sqrt(lam+EPS)) V'; maha2 = sum_j (A_j . c)^2.
    # One flat-literal list_dot_product per row of A (the q45 per-plane shape):
    # DuckDB constant-folds each literal vector once, vs ~44x slower when the
    # full matrix is a nested literal indexed inside a lambda (measured 14.1 s
    # -> 0.32 s on the 500-row compare scale).
    a = (vec / np.sqrt(lam + EPS)).T
    dim = x.shape[1]
    mu_l = ",".join(f"{v:.17e}" for v in mu)
    maha = " + ".join(
        "POWER(list_dot_product(c, ["
        + ",".join(f"{v:.17e}" for v in row) + "]), 2)"
        for row in a)
    return f"""
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            c AS (SELECT vec_id,
                         list_transform(range(1, {dim + 1}),
                                        i -> v[i] - ([{mu_l}])[i]) AS c
                  FROM e)
            SELECT vec_id,
                   ROUND({maha}, 4) AS maha2,
                   CAST(0.0 AS DOUBLE) AS recon_err
            FROM c
        """

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_agg_pricing": q01_agg_pricing,
        "q02_filter_predicates": q02_filter_predicates,
        "q03_broadcast_join": q03_broadcast_join,
        "q04_shuffle_join": q04_shuffle_join,
        "q05_outer_join": q05_outer_join,
        "q06_semi_anti": q06_semi_anti,
        "q07_range_join": q07_range_join,
        "q08_rollup": q08_rollup,
        "q09_cube": q09_cube,
        "q10_distinct": q10_distinct,
        "q11_topk_global": q11_topk_global,
        "q12_topk_per_group": q12_topk_per_group,
        "q13_window_rank": q13_window_rank,
        "q14_set_ops": q14_set_ops,
        "q15_string_fns": q15_string_fns,
        "q16_datetime_fns": q16_datetime_fns,
        "q17_math_fns": q17_math_fns,
        "q18_array_fns": q18_array_fns,
        "q19_json_fns": q19_json_fns,
        "q20_case_nullsafe": q20_case_nullsafe,
        "q21_sessionize": q21_sessionize,
        "q22_lag_lead": q22_lag_lead,
        "q23_rolling_rows": q23_rolling_rows,
        "q24_rolling_time": q24_rolling_time,
        "q25_asof_backward": q25_asof_backward,
        "q26_asof_forward": q26_asof_forward,
        "q27_backfill": q27_backfill,
        "q28_dedup_latest": q28_dedup_latest,
        "q29_tumbling": q29_tumbling,
        "q30_session_stats": q30_session_stats,
        "q50_session_window": q50_session_window,
        "q31_zscore_global": q31_zscore_global,
        "q32_zscore_group": q32_zscore_group,
        "q33_cov_corr": q33_cov_corr,
        "q34_dim_means": q34_dim_means,
        "q35_pca_project": q35_pca_project,
        "q36_grouped_moments": q36_grouped_moments,
        "q37_exact_dedup": q37_exact_dedup,
        "q38_token_count": q38_token_count,
        "q39_quality_score": q39_quality_score,
        "q40_langid": q40_langid,
        "q41_minhash_pairs": q41_minhash_pairs,
        "q42_simhash": q42_simhash,
        "q43_ngram_jaccard": q43_ngram_jaccard,
        "q44_cosine_topk": q44_cosine_topk,
        "q45_ann_lsh": q45_ann_lsh,
        "q46_doc_fingerprint": q46_doc_fingerprint,
        "q47_media_meta": q47_media_meta,
        "q48_dedup_clusters": q48_dedup_clusters,
        "q49_near_dedup_survivors": q49_near_dedup_survivors,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every queries() entry (driver contract).

    Known cross-engine comparability boundary — Unicode case mapping: the
    JVM implements full case mapping (lower('İ') = 'i'+U+0307, 2 chars;
    upper('ß') = 'SS') while DuckDB's utf8proc implements simple case
    mapping (lower('İ') = 'i', 1 char; upper('ß') = 'ẞ').  Queries that
    lowercase/uppercase text (q15 head_upper; the gram pipelines of
    q41/q42/q43/q46/q48/q49) therefore agree only on text whose case
    mapping is identical under both (ASCII and most scripts; exceptions
    are chars like U+0130/U+00DF).  The length(lower(text)) position
    derivations below keep each side INTERNALLY consistent (gate and
    positions from the same string) — they cannot, and do not claim to,
    reconcile the two engines' case tables.  The driver's generated corpus
    is ASCII, where the mappings coincide.
    """
    sql = {
        "q01_agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
                   CAST(SUM(CAST(l_discount AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_filter_predicates": """
            SELECT COUNT(*) AS n_rows,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price
            FROM lineitem
            WHERE l_shipdate BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1995-12-31'
              AND l_discount BETWEEN 0.02 AND 0.09
              AND l_quantity < 24
              AND l_returnflag IN ('A', 'N')
        """,
        "q03_broadcast_join": """
            SELECT r_name, COUNT(*) AS n_suppliers,
                   CAST(SUM(CAST(s_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS sum_acctbal
            FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r_name
        """,
        "q04_shuffle_join": """
            SELECT o_orderpriority,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o_orderpriority
        """,
        "q05_outer_join": """
            SELECT c_mktsegment,
                   COUNT(DISTINCT c_custkey) AS n_customers,
                   COUNT(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END) AS n_no_orders
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c_mktsegment
        """,
        "q06_semi_anti": """
            SELECT
              (SELECT COUNT(*) FROM customer c WHERE EXISTS
                 (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_with_orders,
              (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
                 (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_without
        """,
        "q07_range_join": """
            SELECT o_orderpriority, COUNT(*) AS n_shipped_60d
            FROM lineitem l JOIN orders o
              ON l.l_orderkey = o.o_orderkey
             AND l.l_shipdate >= o.o_orderdate
             -- raw timestamp vs midnight-of-day-60, matching the engine's
             -- l_shipdate <= date_add(orderdate, 60): casting the left side
             -- to DATE would admit a 14:00 shipment on day 60 that the
             -- engine rejects (whole-day-granularity asymmetry).
             AND l.l_shipdate <= CAST(CAST(o.o_orderdate AS DATE)
                                      + INTERVAL 60 DAY AS TIMESTAMP)
            GROUP BY o_orderpriority
        """,
        "q08_rollup": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
                   'rollup' AS src
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            UNION ALL
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
                   'gsets' AS src
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        "q09_cube": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        # approx_ok: the HLL sketch value is engine-specific, but the bound
        # |approx - exact| <= 3*rsd*exact is not — the oracle asserts TRUE.
        "q10_distinct": """
            SELECT l_returnflag,
                   COUNT(DISTINCT l_partkey) AS n_parts,
                   COUNT(DISTINCT l_suppkey) AS n_supps,
                   TRUE AS approx_ok,
                   ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
                   ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
                   ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
                   ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "q11_topk_global": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "q12_topk_per_group": """
            SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
              SELECT c_mktsegment, c_custkey, c_acctbal,
                     ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal DESC, c_custkey) AS rn
              FROM customer) WHERE rn <= 3
        """,
        "q13_window_rank": """
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   RANK() OVER w AS rnk,
                   DENSE_RANK() OVER w AS drnk,
                   NTILE(4) OVER w AS quartile,
                   ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
                   ROUND(CUME_DIST() OVER w, 6) AS cume
            FROM lineitem WHERE l_orderkey < 500
            WINDOW w AS (PARTITION BY l_returnflag
                         ORDER BY l_quantity, l_orderkey, l_linenumber)
        """,
        "q14_set_ops": """
            WITH u AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
                 h AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
            SELECT
              (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM u
                 INTERSECT SELECT DISTINCT o_custkey FROM h)) AS n_both,
              (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM u
                 EXCEPT SELECT DISTINCT o_custkey FROM h)) AS n_only_urgent
        """,
        "q15_string_fns": """
            SELECT doc_id,
                   LENGTH(text) AS n_chars_calc,
                   UPPER(SUBSTRING(text, 1, 12)) AS head_upper,
                   LEN(string_split_regex(TRIM(text), '\\s+')) AS n_ws_tokens,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE COALESCE(regexp_extract(text, '^(\\w+)', 1), '')
                   END AS first_word,
                   levenshtein(lang, 'en') AS lang_lev,
                   CONCAT_WS('|', lang, source) AS lang_source,
                   text LIKE '%the%' AS has_the
            FROM documents
        """,
        "q16_datetime_fns": """
            SELECT event_id,
                   HOUR(ts) AS h,
                   DAYOFWEEK(ts) AS dow,
                   EPOCH(DATE_TRUNC('hour', ts)) AS hour_epoch,
                   DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since,
                   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS unix_sec
            FROM events
        """,
        "q17_math_fns": """
            SELECT l_orderkey, l_linenumber,
                   ROUND(LN(1 + l_quantity), 6) AS log1p_qty,
                   ROUND(SQRT(l_extendedprice), 6) AS sqrt_price,
                   ROUND(POW(l_discount, 2), 8) AS disc_sq,
                   CAST(ABS(l_quantity - 25) AS DOUBLE) AS abs_qty_dev,
                   GREATEST(l_tax, l_discount) AS max_rate,
                   LEAST(l_tax, l_discount) AS min_rate
            FROM lineitem WHERE l_orderkey < 2000
        """,
        "q18_array_fns": """
            SELECT vec_id,
                   LEN(embedding) AS dim,
                   ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
                   ROUND(SQRT(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
                   ROUND(list_sum(list_transform(embedding[1:8],
                         x -> CAST(x AS DOUBLE))), 6) AS head_sum
            FROM embeddings
        """,
        # map_extract(...)[1], not bracket extraction: on DuckDB <=1.1 (this
        # sandbox runs 1.0) MAP[...] returns a LIST, but on >=1.2 bracket
        # extraction returns the value directly and [1] would slice the
        # VARCHAR's first char — map_extract is the stable list-returning
        # alias across versions.
        "q19_json_fns": """
            SELECT event_id,
                   json_extract_string(props, '$.k') AS k_str,
                   -- TRY_CAST on the OUTER conversion too (ADVICE r04):
                   -- DuckDB's plain CAST raises on doubles outside BIGINT
                   -- range (props k='1e20'), where the engine's try_cast
                   -- chain yields NULL.
                   TRY_CAST(trunc(TRY_CAST(json_extract_string(props, '$.k')
                       AS DOUBLE)) AS BIGINT) AS k_num,
                   map_extract(MAP(['type','uid'],
                       [event_type, CAST(user_id AS VARCHAR)]), 'type')[1]
                       AS type_from_map,
                   map_extract(MAP(['type','uid'],
                       [event_type, CAST(user_id AS VARCHAR)]), 'uid')[1]
                       AS uid_from_map,
                   CAST(cardinality(MAP(['type','uid'],
                       [event_type, CAST(user_id AS VARCHAR)])) AS INT)
                       AS map_size,
                   'type,uid' AS keys_joined,
                   ({'uid': user_id, 'val': value}).uid AS uid_from_struct,
                   ({'uid': user_id, 'val': value}).val AS val_from_struct
            FROM events
        """,
        "q20_case_nullsafe": """
            SELECT event_id,
                   CASE WHEN value > 50 THEN 'hi' WHEN value > 10 THEN 'mid'
                        ELSE 'lo' END AS bucket,
                   COALESCE(value, -1.0) AS value_filled,
                   event_type IS NOT DISTINCT FROM 'purchase' AS is_purchase
            FROM events
        """,
        # CAST .. AS BIGINT: DuckDB's windowed SUM(CASE..) is HUGEINT which
        # fetchdf() renders as float64; Spark emits int64 — same values,
        # different dtype, failing the driver's value hash (round-1 root cause).
        "q21_sessionize": """
            SELECT user_id, event_id,
                   CAST(SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_id
            FROM (SELECT user_id, event_id, ts,
                         EPOCH(ts) - LAG(EPOCH(ts)) OVER (PARTITION BY user_id
                                                          ORDER BY ts NULLS FIRST, event_id) AS gap
                  FROM events)
        """,
        "q22_lag_lead": """
            SELECT user_id, event_id,
                   LAG(value, 1) OVER w AS prev_value,
                   LEAD(value, 1) OVER w AS next_value,
                   EPOCH(ts) - LAG(EPOCH(ts)) OVER w AS gap_sec
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
        """,
        "q23_rolling_rows": """
            SELECT user_id, event_id,
                   ROUND(AVG(value) OVER w, 6) AS roll_avg,
                   MAX(value) OVER w AS roll_max,
                   COUNT(value) OVER w AS roll_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "q24_rolling_time": """
            SELECT user_id, event_id,
                   COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                                  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                        AND CURRENT ROW) AS n_1h
            FROM events
        """,
        # The purchase side is deduped per (user_id, ts) to the engine's
        # pinned tie-winner (asof.py: LAST under (ts, *right_order) wins =>
        # MAX(value) for the backward sweep) BEFORE the ASOF join: DuckDB's
        # ASOF picks an arbitrary row among duplicate right timestamps, so
        # without the dedup the oracle is nondeterministic exactly where
        # the engine is pinned.
        # NULL-ts left rows: the engine leaves them unmatched in every
        # direction (asof.py nulls-first sweep), but DuckDB's sort-based
        # ASOF MATCHES them (NULLS LAST puts them after every right ts) —
        # exclude them from the ASOF and re-attach unmatched.
        "q25_asof_backward": """
            SELECT e.user_id, e.event_id, p.purchase_value,
                   CASE WHEN p.ts IS NOT NULL
                             AND EPOCH(e.ts) - EPOCH(p.ts) <= 7200
                        THEN p.purchase_value END AS purchase_value_2h
            FROM (SELECT * FROM events WHERE ts IS NOT NULL) e
                 ASOF LEFT JOIN
                 (SELECT user_id, ts, MAX(value) AS purchase_value FROM events
                  WHERE event_type = 'purchase' GROUP BY user_id, ts) p
              ON e.user_id = p.user_id AND e.ts >= p.ts
            UNION ALL
            SELECT user_id, event_id, NULL AS purchase_value,
                   NULL AS purchase_value_2h
            FROM events WHERE ts IS NULL
        """,
        # nearest = closer of the backward / forward as-of matches; equal
        # distance resolves to the backward match (<=), mirroring asof.py.
        # Purchase sides deduped per (user_id, ts) to the engine's pinned
        # tie-winners: backward sweep = MAX(value) (last under ascending
        # (ts, value)), forward sweep = MIN(value) (last under descending).
        "q26_asof_forward": """
            WITH pb AS (SELECT user_id, ts, MAX(value) AS pv FROM events
                        WHERE event_type = 'purchase' GROUP BY user_id, ts),
            pf AS (SELECT user_id, ts, MIN(value) AS pv FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id, ts),
            enn AS (SELECT * FROM events WHERE ts IS NOT NULL),
            b AS (SELECT e.user_id, e.event_id, e.ts, p.ts AS bts, p.pv AS bval
                  FROM enn e ASOF LEFT JOIN pb p
                    ON e.user_id = p.user_id AND e.ts >= p.ts),
            f AS (SELECT e.event_id, p.ts AS fts, p.pv AS fval
                  FROM enn e ASOF LEFT JOIN pf p
                    ON e.user_id = p.user_id AND e.ts <= p.ts)
            SELECT b.user_id, b.event_id, f.fval AS next_purchase,
                   CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                             EPOCH(b.ts) - EPOCH(bts) <= EPOCH(fts) - EPOCH(b.ts))
                        THEN bval ELSE fval END AS nearest_purchase
            FROM b JOIN f ON b.event_id = f.event_id
            UNION ALL
            -- engine: NULL-ts left rows pass through unmatched (see q25)
            SELECT user_id, event_id, NULL AS next_purchase,
                   NULL AS nearest_purchase
            FROM events WHERE ts IS NULL
        """,
        "q27_backfill": """
            SELECT user_id, event_id,
                   LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                              IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS purchase_value
            FROM events
        """,
        "q28_dedup_latest": """
            SELECT user_id, event_id, value FROM (
              SELECT user_id, event_id, value,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1
        """,
        "q29_tumbling": """
            SELECT user_id, EPOCH(DATE_TRUNC('hour', ts)) AS hour_epoch,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY user_id, DATE_TRUNC('hour', ts)
        """,
        "q30_session_stats": """
            WITH sess AS (
              SELECT user_id, ts,
                     CAST(SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
              FROM (SELECT user_id, event_id, ts,
                           EPOCH(ts) - LAG(EPOCH(ts)) OVER (PARTITION BY user_id
                                                            ORDER BY ts NULLS FIRST, event_id) AS gap
                    FROM events))
            SELECT user_id, session_id,
                   EPOCH(MIN(ts)) AS start_epoch,
                   EPOCH(MAX(ts)) - EPOCH(MIN(ts)) AS duration_sec,
                   COUNT(*) AS n_turns
            FROM sess GROUP BY user_id, session_id
        """,
        "q31_zscore_global": """
            SELECT l_orderkey, l_linenumber,
                   ROUND((l_quantity - (SELECT AVG(l_quantity) FROM lineitem))
                         / (SELECT STDDEV_SAMP(l_quantity) FROM lineitem), 4) AS z_qty
            FROM lineitem
        """,
        "q32_zscore_group": """
            SELECT l_orderkey, l_linenumber,
                   ROUND((l_quantity - AVG(l_quantity) OVER w)
                         / STDDEV_SAMP(l_quantity) OVER w, 4) AS z_qty
            FROM lineitem
            WINDOW w AS (PARTITION BY l_returnflag)
        """,
        "q33_cov_corr": """
            SELECT ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS cov_qp,
                   ROUND(COVAR_POP(l_quantity, l_extendedprice), 4) AS covp_qp,
                   ROUND(CORR(l_quantity, l_extendedprice), 8) AS corr_qp,
                   ROUND(STDDEV_SAMP(l_quantity), 8) AS sd_q,
                   ROUND(VAR_SAMP(l_quantity), 6) AS var_q
            FROM lineitem
        """,
        "q34_dim_means": """
            SELECT pos, ROUND(AVG(val), 8) AS dim_mean,
                   ROUND(STDDEV_SAMP(val), 8) AS dim_sd
            FROM (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
                         CAST(UNNEST(embedding) AS DOUBLE) AS val
                  FROM embeddings)
            GROUP BY pos
        """,
        "q36_grouped_moments": """
            SELECT l_returnflag, COUNT(*) AS n,
                   ROUND(AVG(l_quantity), 6) AS mean_qty,
                   ROUND(AVG(l_discount), 6) AS mean_disc,
                   ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
                   ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS cov_qd,
                   ROUND(VAR_SAMP(l_discount), 6) AS var_disc
            FROM lineitem GROUP BY l_returnflag
        """,
        "q41_minhash_pairs": _q41_oracle(),
        "q45_ann_lsh": _q45_oracle(),
        "q48_dedup_clusters": _q48_oracle(),
        "q49_near_dedup_survivors": _q49_oracle(),
        "q37_exact_dedup": """
            SELECT d.doc_id, d.n_chars
            FROM documents d JOIN (SELECT text, MIN(doc_id) AS doc_id
                                   FROM documents GROUP BY text) k
              ON d.doc_id = k.doc_id
        """,
        "q38_token_count": """
            SELECT doc_id,
                   LEN(string_split_regex(TRIM(text), '\\s+')) AS n_ws_tokens,
                   LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS n_word_tokens
            FROM documents
        """,
        "q39_quality_score": f"""
            SELECT doc_id,
                   LENGTH(text) AS len,
                   LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                   LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
                   LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
                       w -> w IN {_sql_in(QUALITY_STOPWORDS)})) AS n_stopwords,
                   LEN(string_split_regex(LOWER(TRIM(text)), '\\s+')) AS n_tokens
            FROM documents
        """,
        "q40_langid": f"""
            WITH v AS (
              SELECT doc_id,
                     LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
                         w -> w IN {_sql_in(LANG_STOPWORDS['en'])})) AS votes_en,
                     LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
                         w -> w IN {_sql_in(LANG_STOPWORDS['fr'])})) AS votes_fr,
                     LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
                         w -> w IN {_sql_in(LANG_STOPWORDS['de'])})) AS votes_de
              FROM documents)
            SELECT doc_id, votes_en, votes_fr, votes_de,
                   CASE WHEN votes_en >= votes_fr AND votes_en >= votes_de
                             AND votes_en > 0 THEN 'en'
                        WHEN votes_fr >= votes_de AND votes_fr > 0 THEN 'fr'
                        WHEN votes_de > 0 THEN 'de'
                        ELSE 'unknown' END AS lang_pred
            FROM v
        """,
        "q44_cosine_topk": """
            WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                       FROM embeddings WHERE vec_id = 0),
                 n AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings WHERE vec_id != 0)
            SELECT vec_id,
                   ROUND(list_sum(list_transform(range(1, len(v) + 1),
                           i -> v[i] * qv[i]))
                         / (SQRT(list_sum(list_transform(v, x -> x*x)))
                            * SQRT(list_sum(list_transform(qv, x -> x*x)))),
                         6) AS cosine
            FROM n CROSS JOIN q ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        # identical votes to the Spark side: distinct lowercase 3-grams,
        # 60-bit md5 hash, per-bit +/-1 vote, bit set iff vote > 0
        "q42_simhash": f"""
            WITH grams AS (
                SELECT doc_id,
                       ('0x' || substr(md5(unnest(list_distinct(list_transform(
                           range(1, GREATEST(length(lower(text)) - {Q42['n'] - 1}, 1) + 1),
                           i -> substr(lower(text), CAST(i AS INT), {Q42['n']}))))), 1,
                           {PORTABLE_HASH_HEX_CHARS}))::BIGINT AS h
                FROM documents
            ),
            votes AS (
                SELECT doc_id, b,
                       SUM(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1
                                THEN 1 ELSE -1 END) AS v
                FROM grams CROSS JOIN range(0, {Q42['bits']}) bb(b)
                GROUP BY doc_id, b
            ),
            fp AS (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN v > 0
                                     THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                                     ELSE 0 END) AS BIGINT) AS simhash
                FROM votes GROUP BY doc_id
            )
            -- row semantics: the Spark operator LEFT-joins fingerprints back
            -- so a NULL-text doc (zero grams) still emits one row with
            -- simhash 0 (dedup.py row-semantics guard); range(1, NULL)
            -- unnests to no rows here, so mirror that join or NULL-text
            -- docs silently vanish from the oracle (round-5 review)
            SELECT d.doc_id, COALESCE(fp.simhash, 0) AS simhash
            FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
        """,
        # Mirrors the Spark plan EXACTLY, including the binding stop-gram
        # pruning (DF > n_docs * frac excluded; sizes computed post-prune,
        # so Jaccard is exact over the pruned gram space on both sides).
        "q43_ngram_jaccard": f"""
            WITH grams0 AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, GREATEST(length(lower(text)) - 2, 1) + 1),
                           i -> substr(lower(text), CAST(i AS INT), 3)))) AS g
                FROM documents
            ),
            gdf AS (SELECT g, COUNT(*) AS dfc FROM grams0 GROUP BY g),
            nd AS (SELECT COUNT(*) AS n FROM documents),
            grams AS (
                SELECT doc_id, g FROM grams0 JOIN gdf USING (g), nd
                WHERE NOT (dfc > n * {Q43_MAX_DF_FRAC!r})
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                FROM grams a JOIN grams b USING (g)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {Q43_THRESHOLD!r}
        """,
        "q47_media_meta": """
            SELECT doc_id,
                   CASE CAST((doc_id % 3 + 3) % 3 AS INT) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                   CAST(strlen(text) + 4 AS BIGINT) AS n_bytes,
                   -- NULL text -> NULL payload engine-side, so every
                   -- payload-derived field (incl. the magic, which the
                   -- engine can only read FROM the payload) null-propagates
                   CASE WHEN text IS NULL THEN NULL
                        WHEN CAST((doc_id % 3 + 3) % 3 AS INT) = 0 THEN '89504e47'
                        WHEN CAST((doc_id % 3 + 3) % 3 AS INT) = 1 THEN '52494646'
                        ELSE '00000018' END AS magic_hex,
                   md5(text) AS content_md5
            FROM documents
        """,
        # Gram positions and the >=5 gate derive from length(lower(text)),
        # matching the engine exactly (ADVICE r03: raw length(text) here
        # desynchronizes on chars whose lowercase form changes length).
        "q46_doc_fingerprint": """
            SELECT doc_id, md5(text) AS fingerprint,
                   CAST(CASE WHEN length(lower(text)) >= 5 THEN
                       len(list_distinct(list_transform(
                           range(1, length(lower(text)) - 3),
                           i -> substr(lower(text), CAST(i AS INT), 5))))
                   ELSE 0 END AS BIGINT) AS n_shingles
            FROM documents
        """,
        # Native session_window (q50) must agree with the cumulative-sum
        # sessionize oracle (q21/q30): a new session starts only when
        # gap > 30 min (an event at EXACTLY last_ts + gap merges — probed
        # empirically against Spark's session_window and pinned here).
        "q50_session_window": """
            WITH sess AS (
              SELECT user_id, ts, value,
                     CAST(SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
              FROM (SELECT user_id, event_id, ts, value,
                           EPOCH(ts) - LAG(EPOCH(ts)) OVER (PARTITION BY user_id
                                                            ORDER BY ts NULLS FIRST, event_id) AS gap
                    -- session_window DROPS NULL-ts rows on the Spark side
                    -- (TimeWindowing's implicit isnotnull filter) — match it
                    FROM events WHERE ts IS NOT NULL))
            SELECT user_id,
                   EPOCH(MIN(ts)) AS start_epoch,
                   COUNT(*) AS n_turns,
                   CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
            FROM sess GROUP BY user_id, session_id
        """,
    }
    # q35's oracle inlines an independently-fitted NumPy whitening model as
    # literals (built at call time from the compare-scale parquet, like the
    # q45 hyperplane literals) — not expressible as a static string above.
    sql["q35_pca_project"] = _q35_oracle()
    return sql


if __name__ == "__main__":
    from featureextraction_jl_spark.session import get_spark

    spark = get_spark("entry-smoke")
    df = entry(spark)
    df.show(5, truncate=60)
    print("rows:", df.count())
