"""Time-series / data-quality query surface — SURVEY.md §2.8 (T1–T7).

The reference's domain core: calendar densification, gap-run islands,
two-tier imputation (cubic spline for short gaps — the engine's only
pandas UDF — and historical calendar-slot averages for long gaps).

T3/T5's spline solve is not SQL-expressible, so their oracle is a
GENERATED literal table: at ``oracle_sql()`` time, DuckDB computes the
same dense hourly series the Spark query densifies, the pure-numpy
reference kernel (operators/impute.py, parity with the reference's
impute_missing.py:41-98 fill ladder) computes the expected fills
single-machine, and the result is embedded as a VALUES table. The gate
then value-checks everything the distributed path adds on top of the
kernel — grouping, per-series sort, gap classification, the
historical/spline hand-off — which is exactly the risk surface of the
Spark reimplementation.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import rnd

from ..operators import densify
from ..operators.gaps import sessionize


_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.5
_HOLT_HORIZONS = (1, 3, 7)


def holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-ahead forecast of each event type's daily-total series
    under Holt's linear-trend exponential smoothing (the reference's
    generation dashboards imply exactly this next-day view):
    ``l_t = a*y_t + (1-a)*(l+b); b_t = g*(l_t - l) + (1-g)*b`` with
    l1=y1, b1=y2-y1, forecast(h) = l_T + h*b_T for h in {1, 3, 7}.
    A one-day series has no trend: level=y1, trend=0, forecast=y1.

    Execution shape: the recurrence is SEQUENTIAL per series, so each
    (type)-partition's day-ordered totals collapse into ONE array
    (|days| elements, bounded by the calendar, never event-sized) and
    the smoother runs as a single JVM-side ``F.aggregate`` fold —
    whole-stage-codegen arithmetic, no UDF, no driver loop. Only +,*
    on IEEE doubles inside the fold (no libm), with the same operation
    order as the oracle's reference fold, so the 4-rounded outputs
    hash identically. Inputs are the already-4-rounded daily totals
    (the repo sum-parity rule)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(rnd(F.sum("value"), 4).alias("day_total"))
    )
    return holt_from_daily(daily)


def holt_from_daily(daily: DataFrame) -> DataFrame:
    """The Holt fold over an already-built (event_type, day,
    day_total) frame — shared by the catalog query (daily totals from
    raw events) and the dashboard's incremental refresh (daily totals
    from the published hourly rollup): both round day_total at 4
    before the fold, so the recurrence sees identical inputs either
    way."""
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "day_total"))),
            lambda s: s["day_total"],
        ).alias("ys")
    )
    a, g = _HOLT_ALPHA, _HOLT_BETA
    l0 = F.element_at("ys", 1)
    # CaseWhen evaluates only the taken branch, so a one-day series
    # never reaches the out-of-range element_at(ys, 2)
    b0 = F.when(
        F.size("ys") >= 2, F.element_at("ys", 2) - F.element_at("ys", 1)
    ).otherwise(F.lit(0.0))

    def step(acc, y):
        new_l = F.lit(a) * y + F.lit(1 - a) * (acc["l"] + acc["b"])
        new_b = F.lit(g) * (new_l - acc["l"]) + F.lit(1 - g) * acc["b"]
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    state = F.aggregate(
        F.slice(F.col("ys"), 2, F.size("ys") - 1),
        F.struct(l0.alias("l"), b0.alias("b")),
        step,
    )
    out = series.select(
        "event_type",
        F.size("ys").cast("bigint").alias("n_days"),
        state.alias("_st"),
    ).select(
        "event_type",
        "n_days",
        rnd(F.col("_st.l"), 4).alias("level"),
        rnd(F.col("_st.b"), 4).alias("trend"),
        *[
            rnd(F.col("_st.l") + F.lit(float(h)) * F.col("_st.b"), 4).alias(
                f"fc_{h}"
            )
            for h in _HOLT_HORIZONS
        ],
    )
    return out


_HW_GAMMA = 0.5
_HW_PERIOD = 7


def holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) with
    weekly seasonality over each event type's daily-total series —
    the seasonal upgrade of ``ts_holt_forecast`` (an energy dashboard
    forecasts weekday vs weekend load differently): level/trend as in
    Holt plus a {m}-slot seasonal state, classic first-two-seasons
    initialization (l = mean of week 1, b = (mean week 2 − mean week
    1)/{m}, s_i = y_i − l), forecasts l + h·b + s[(T+h−1) mod {m}].
    Series shorter than 2·{m} days are skipped (undefined init) in
    BOTH engines.

    Same execution contract as Holt: each series folds as ONE
    JVM-side ``F.aggregate`` with a struct(l, b, s[{m}], t) state —
    the seasonal slot rewrite is a slice/concat array expression —
    only +,*,/ on doubles inside, operation order mirrored by the
    generated oracle's reference fold, outputs rounded at 4."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(rnd(F.sum("value"), 4).alias("day_total"))
    )
    m = _HW_PERIOD
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "day_total"))),
            lambda s: s["day_total"],
        ).alias("ys")
    ).filter(F.size("ys") >= 2 * m)
    a, b_, g = _HOLT_ALPHA, _HOLT_BETA, _HW_GAMMA

    def _mean_slice(start: int) -> F.Column:
        return (
            F.aggregate(
                F.slice("ys", start, m),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / float(m)
        )

    l0 = _mean_slice(1)
    b0 = (_mean_slice(m + 1) - _mean_slice(1)) / float(m)
    s0 = F.transform(F.slice("ys", 1, m), lambda y: y - _mean_slice(1))

    def step(acc, y):
        pos = acc["t"] % m  # 0-based seasonal slot of the NEXT point
        sp = F.element_at(acc["s"], pos + 1)
        new_l = F.lit(a) * (y - sp) + F.lit(1 - a) * (acc["l"] + acc["b"])
        new_b = F.lit(b_) * (new_l - acc["l"]) + F.lit(1 - b_) * acc["b"]
        new_sv = F.lit(g) * (y - new_l) + F.lit(1 - g) * sp
        new_s = F.concat(
            F.slice(acc["s"], 1, pos),
            F.array(new_sv),
            F.slice(acc["s"], pos + 2, m - pos - 1),
        )
        return F.struct(
            new_l.alias("l"),
            new_b.alias("b"),
            new_s.alias("s"),
            (acc["t"] + 1).alias("t"),
        )

    state = F.aggregate(
        F.slice(F.col("ys"), m + 1, F.size("ys") - m),
        F.struct(
            l0.alias("l"), b0.alias("b"), s0.alias("s"), F.lit(m).alias("t")
        ),
        step,
    )
    fc = [
        rnd(
            F.col("_st.l")
            + F.lit(float(h)) * F.col("_st.b")
            + F.element_at(
                F.col("_st.s"),
                ((F.col("n_days") + h - 1) % m).cast("int") + 1,
            ),
            4,
        ).alias(f"fc_{h}")
        for h in _HOLT_HORIZONS
    ]
    return (
        series.select(
            "event_type",
            F.size("ys").cast("bigint").alias("n_days"),
            state.alias("_st"),
        )
        .select(
            "event_type",
            "n_days",
            rnd(F.col("_st.l"), 4).alias("level"),
            rnd(F.col("_st.b"), 4).alias("trend"),
            *fc,
        )
    )


holt_winters_forecast.__doc__ = holt_winters_forecast.__doc__.format(
    m=_HW_PERIOD
)


def _holt_winters_oracle(sf_dir: str) -> str:
    """Generated oracle: independent pure-Python additive HW fold
    (identical operation order) over the DuckDB-computed 4-rounded
    daily series, emitted as a VALUES table."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT event_type, CAST(ts AS DATE) AS day,
               round(sum(value), 4) AS day_total
        FROM '{sf_dir}/events.parquet'
        GROUP BY 1, 2 ORDER BY event_type, day
        """
    ).fetchall()
    series: dict = {}
    for et, _day, tot in rows:
        series.setdefault(et, []).append(float(tot))
    m = _HW_PERIOD
    a, b_, g = _HOLT_ALPHA, _HOLT_BETA, _HW_GAMMA
    out = []
    for et in sorted(series):
        ys = series[et]
        if len(ys) < 2 * m:
            continue

        def mean_slice(start0: int) -> float:
            acc = 0.0
            for x in ys[start0 : start0 + m]:
                acc += x
            return acc / float(m)

        level = mean_slice(0)
        b = (mean_slice(m) - mean_slice(0)) / float(m)
        s = [y - mean_slice(0) for y in ys[:m]]
        t = m
        for y in ys[m:]:
            pos = t % m
            sp = s[pos]
            new_l = a * (y - sp) + (1 - a) * (level + b)
            new_b = b_ * (new_l - level) + (1 - b_) * b
            new_sv = g * (y - new_l) + (1 - g) * sp
            s = s[:pos] + [new_sv] + s[pos + 1 :]
            level, b = new_l, new_b
            t += 1
        n = len(ys)
        rec = [et, n, round(level, 4), round(b, 4)]
        rec += [
            round(level + float(h) * b + s[(n + h - 1) % m], 4)
            for h in _HOLT_HORIZONS
        ]
        out.append(rec)
    fc_cols = ", ".join(f"fc_{h}" for h in _HOLT_HORIZONS)
    fc_casts = ",\n       ".join(
        f"CAST(fc_{h} AS DOUBLE) AS fc_{h}" for h in _HOLT_HORIZONS
    )
    values = ",\n".join(
        "("
        + ", ".join([f"'{r[0]}'", str(r[1])] + [repr(v) for v in r[2:]])
        + ")"
        for r in out
    )
    return f"""
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       CAST(level AS DOUBLE) AS level,
       CAST(trend AS DOUBLE) AS trend,
       {fc_casts}
FROM (VALUES
{values}
) AS t(event_type, n_days, level, trend, {fc_cols})
"""


def _holt_oracle(sf_dir: str) -> str:
    """Generated oracle: DuckDB computes the identical 4-rounded daily
    series; an independent pure-Python Holt fold (same +,* operation
    order) produces the expected state, emitted as a VALUES table."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT event_type, CAST(ts AS DATE) AS day,
               round(sum(value), 4) AS day_total
        FROM '{sf_dir}/events.parquet'
        GROUP BY 1, 2 ORDER BY event_type, day
        """
    ).fetchall()
    series: dict = {}
    for et, _day, tot in rows:
        series.setdefault(et, []).append(float(tot))
    a, g = _HOLT_ALPHA, _HOLT_BETA
    out = []
    for et in sorted(series):
        ys = series[et]
        level, b = ys[0], (ys[1] - ys[0] if len(ys) >= 2 else 0.0)
        for y in ys[1:]:
            new_l = a * y + (1 - a) * (level + b)
            b = g * (new_l - level) + (1 - g) * b
            level = new_l
        rec = [et, len(ys), round(level, 4), round(b, 4)]
        rec += [round(level + float(h) * b, 4) for h in _HOLT_HORIZONS]
        out.append(rec)
    fc_cols = ", ".join(f"fc_{h}" for h in _HOLT_HORIZONS)
    fc_casts = ",\n       ".join(
        f"CAST(fc_{h} AS DOUBLE) AS fc_{h}" for h in _HOLT_HORIZONS
    )
    values = ",\n".join(
        "("
        + ", ".join(
            [f"'{r[0]}'", str(r[1])] + [repr(v) for v in r[2:]]
        )
        + ")"
        for r in out
    )
    return f"""
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       CAST(level AS DOUBLE) AS level,
       CAST(trend AS DOUBLE) AS trend,
       {fc_casts}
FROM (VALUES
{values}
) AS t(event_type, n_days, level, trend, {fc_cols})
"""

from ..operators.impute import (
    _spline_fill_series,
    find_consecutive_missing_groups,
    impute_missing_values,
    spline_impute_short_gaps,
)
from ..sources import load_table

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

RANGE_START = "2024-01-01 00:00:00"
RANGE_END = "2024-01-30 23:00:00"


def _hour_bucket_ntz(ts_col):
    """Wall-clock hour truncation that stays TIMESTAMP_NTZ (tz-safe)."""
    return F.to_timestamp_ntz(
        F.concat(F.date_format(ts_col, "yyyy-MM-dd HH"), F.lit(":00:00"))
    )


def _calendar_hours(spark: SparkSession) -> DataFrame:
    return densify.calendar_hours(spark, RANGE_START, RANGE_END)


# --- T1: calendar densification — days with no purchase events ---
# Parity: pd.date_range(...).difference (nambu_merge_pv_data.py:58-63).
def missing_purchase_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    present = ev.filter(F.col("event_type") == "purchase").select(
        F.to_date("ts").alias("day")
    )
    return densify.missing_days(present, spark, "2024-01-01", "2024-01-30")


MISSING_DAYS_SQL = """
SELECT CAST(gs.d AS DATE) AS day
FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30', INTERVAL 1 DAY) gs(d)
WHERE CAST(gs.d AS DATE) NOT IN (
  SELECT DISTINCT CAST(ts AS DATE) FROM events WHERE event_type = 'purchase'
)
"""


# --- T2: consecutive-gap run-length islands ---
# Parity: find_consecutive_missing_groups (impute_missing.py:14-38) —
# here over the global hourly grid: hours with zero 'purchase' events,
# grouped into consecutive runs.
def purchase_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cal = _calendar_hours(spark)
    present = (
        ev.filter(F.col("event_type") == "purchase")
        .select(_hour_bucket_ntz("ts").alias("hour_ts"))
        .distinct()
    )
    missing = cal.join(present, "hour_ts", "left_anti")
    # islands trick: hours-since-epoch minus row_number is constant per run
    # (timestamp_diff on NTZ is pure wall-clock arithmetic — tz-safe).
    # The unpartitioned window (WindowExec warns) is deliberate and safe:
    # it runs on the densified calendar grid AFTER the anti-join — bounded
    # by calendar size (8.8k rows/year), not by fact-table volume. The
    # 100 TB side is fully distributed up through the distinct + anti-join.
    idx = F.timestamp_diff(
        "HOUR", F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"), F.col("hour_ts")
    ).cast("long")
    w = Window.orderBy("hour_ts")
    grouped = missing.withColumn("_k", idx - F.row_number().over(w))
    return (
        grouped.groupBy("_k")
        .agg(
            F.date_format(F.min("hour_ts"), TS_FMT_SPARK).alias("gap_start"),
            F.date_format(F.max("hour_ts"), TS_FMT_SPARK).alias("gap_end"),
            F.count(F.lit(1)).alias("gap_len"),
        )
        .drop("_k")
    )


GAP_ISLANDS_SQL = f"""
WITH cal AS (
  SELECT gs.h AS hour_ts
  FROM generate_series(TIMESTAMP '{RANGE_START}', TIMESTAMP '{RANGE_END}', INTERVAL 1 HOUR) gs(h)
), present AS (
  SELECT DISTINCT date_trunc('hour', ts) AS hour_ts FROM events WHERE event_type = 'purchase'
), missing AS (
  SELECT hour_ts FROM cal WHERE hour_ts NOT IN (SELECT hour_ts FROM present)
), grouped AS (
  SELECT hour_ts,
         CAST(epoch(hour_ts) / 3600 AS BIGINT) - row_number() OVER (ORDER BY hour_ts) AS k
  FROM missing
)
SELECT strftime(min(hour_ts), '{TS_FMT_DUCK}') AS gap_start,
       strftime(max(hour_ts), '{TS_FMT_DUCK}') AS gap_end,
       count(*) AS gap_len
FROM grouped GROUP BY k
"""


# --- T4: historical-average imputation (native path) ---
# Parity: impute_missing.py:356-374 — fill missing slots from the same
# calendar-slot mean, cascading to the global mean.
def view_series_hist_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # intermediate averages rounded to 6 so the downstream cascade is
    # computed from inputs identical to the oracle's (FP-order safety)
    series = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(_hour_bucket_ntz("ts").alias("hour_ts"))
        .agg(rnd(F.avg("value"), 6).alias("_v"))
    )
    cal = _calendar_hours(spark)
    dense = cal.join(series, "hour_ts", "left")
    profile = series.groupBy(F.hour("hour_ts").alias("_h")).agg(
        rnd(F.avg("_v"), 6).alias("_slot_mean")
    )
    global_mean = series.agg(rnd(F.avg("_v"), 6).alias("_gm"))
    out = (
        dense.withColumn("_h", F.hour("hour_ts"))
        .join(F.broadcast(profile), "_h", "left")
        .crossJoin(F.broadcast(global_mean))
    )
    return out.select(
        F.date_format("hour_ts", TS_FMT_SPARK).alias("hour_ts"),
        rnd(F.coalesce("_v", "_slot_mean", "_gm"), 4).alias("value_filled"),
        F.col("_v").isNull().cast("int").cast("bigint").alias("was_missing"),
    )


HIST_IMPUTE_SQL = f"""
WITH series AS (
  SELECT date_trunc('hour', ts) AS hour_ts, round(avg(value), 6) AS v
  FROM events WHERE event_type = 'view' GROUP BY 1
), cal AS (
  SELECT gs.h AS hour_ts
  FROM generate_series(TIMESTAMP '{RANGE_START}', TIMESTAMP '{RANGE_END}', INTERVAL 1 HOUR) gs(h)
), dense AS (
  SELECT cal.hour_ts, series.v FROM cal LEFT JOIN series ON cal.hour_ts = series.hour_ts
), profile AS (
  SELECT EXTRACT(hour FROM hour_ts) AS h, round(avg(v), 6) AS slot_mean FROM series GROUP BY 1
), gm AS (SELECT round(avg(v), 6) AS g FROM series)
SELECT strftime(dense.hour_ts, '{TS_FMT_DUCK}') AS hour_ts,
       round(coalesce(dense.v, profile.slot_mean, gm.g), 4) AS value_filled,
       CAST(CASE WHEN dense.v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS was_missing
FROM dense
LEFT JOIN profile ON EXTRACT(hour FROM dense.hour_ts) = profile.h
CROSS JOIN gm
"""


# --- sessionization (stateful stream semantics as batch windows) ---
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, "ts", ["user_id"], gap_seconds=1800)
    return s.select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        F.date_format("session_start", TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_end", TS_FMT_SPARK).alias("session_end"),
        F.col("n_events").alias("n_events"),
    )


SESSIONS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       strftime(max(ts), '{TS_FMT_DUCK}') AS session_end,
       count(*) AS n_events
FROM sessions GROUP BY user_id, session_seq
"""


# --- top within-session event paths (behavioral path analysis) ---
_PATH_TOPK = 15


def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``_PATH_TOPK`` most common 3-step within-session event
    sequences — the path-analysis table behind a Sankey/flow panel
    (which journeys dominate, how often a view->click leg converts in
    the next step): the behavioral complement of
    ``st_funnel_conversion``'s fixed funnel and
    ``st_event_transition_matrix``'s 1-step Markov view.

    Execution shape: per-event session labels come from the SAME
    window composition as ``st_user_sessions``
    (``operators/gaps.sessionize_events`` — one (user, ts) sort
    shared by the label sum and the two leads), trigrams are two
    ``lead`` taps over the session window (no self-join, no explode),
    and the path aggregate is a map-side-combined |distinct paths|
    key space with a TakeOrderedAndProject cut. (user_id, ts) is
    unique in the events table, so the path strings are
    order-deterministic."""
    from ..operators.gaps import sessionize_events

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    labeled = sessionize_events(ev, "ts", ["user_id"], gap_seconds=1800)
    wp = Window.partitionBy("user_id", "session_seq").orderBy("ts")
    steps = labeled.select(
        "user_id",
        "session_seq",
        "event_type",
        F.lead("event_type", 1).over(wp).alias("_n1"),
        F.lead("event_type", 2).over(wp).alias("_n2"),
    ).filter(F.col("_n2").isNotNull())
    paths = steps.select(
        F.concat_ws(">", "event_type", "_n1", "_n2").alias("path"),
        F.concat_ws("#", "user_id", "session_seq").alias("_sess"),
    )
    agg = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.countDistinct("_sess").cast("bigint").alias("n_sessions"),
    )
    return agg.orderBy(
        F.desc("n_occurrences"), F.asc("path")
    ).limit(_PATH_TOPK)


TOP_PATHS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), labeled AS (
  SELECT user_id, ts, event_type,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM flagged
), steps AS (
  SELECT user_id, session_seq, event_type,
         lead(event_type, 1) OVER wp AS n1,
         lead(event_type, 2) OVER wp AS n2
  FROM labeled
  WINDOW wp AS (PARTITION BY user_id, session_seq ORDER BY ts)
), paths AS (
  SELECT event_type || '>' || n1 || '>' || n2 AS path,
         CAST(user_id AS VARCHAR) || '#' || CAST(session_seq AS VARCHAR)
           AS sess
  FROM steps WHERE n2 IS NOT NULL
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT sess) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_occurrences DESC, path ASC LIMIT {_PATH_TOPK}
"""


# --- T3: cubic-spline imputation (pandas UDF — rows-only check) ---
# Parity: _spline_impute (impute_missing.py:41-98) with the linear
# fallback ladder; scipy runs inside applyInPandas per series.
def spline_impute_view_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # hourly mean rounded to 6 BEFORE the spline: the oracle recomputes
    # this average in DuckDB with a different summation order, and the
    # kernel must see bit-identical inputs (same FP-order guard as T4)
    series = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(_hour_bucket_ntz("ts").alias("hour_ts"))
        .agg(rnd(F.avg("value"), 6).alias("v"))
    )
    dense = (
        _calendar_hours(spark)
        .join(series, "hour_ts", "left")
        .withColumn("series_key", F.lit("view"))
    )
    filled = spline_impute_short_gaps(
        dense, "hour_ts", "v", keys=["series_key"], short_gap_max=3
    )
    return filled.select(
        "series_key",
        F.date_format("hour_ts", TS_FMT_SPARK).alias("hour_ts"),
        rnd("v", 4).alias("value_filled"),
    )


# --- T5: full impute pipeline (historical + spline) — rows-only check ---
def impute_pipeline_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # same FP-order guard as t3: round the hourly mean inputs AND the
    # long-gap fill means to 6 so the oracle's independently-summed
    # averages feed the spline kernel bit-identical anchors
    # persist: this tiny hourly table (hours × 2 series) is referenced
    # four times downstream (the keys derivation, the densify join, and
    # the impute operator's window + cascade-levels branches) — without
    # the pin each reference re-runs the events scan + aggregate, 8
    # parquet scans for one query at any scale
    series = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("event_type", _hour_bucket_ntz("ts").alias("hour_ts"))
        .agg(rnd(F.avg("value"), 6).alias("v"))
        .persist()
    )
    cal = _calendar_hours(spark)
    keys = series.select("event_type").distinct()
    dense = keys.crossJoin(cal).join(series, ["event_type", "hour_ts"], "left")
    out = impute_missing_values(
        dense,
        "hour_ts",
        ["v"],
        keys=["event_type"],
        short_gap_max=3,
        fill_round_digits=6,
    )
    return out.select(
        "event_type",
        F.date_format("hour_ts", TS_FMT_SPARK).alias("hour_ts"),
        rnd("v", 4).alias("value_filled"),
    )


# --- T3/T5 oracle generation (expected-value literal tables) ---------------
def _rnd_py(x: float | None, digits: int = 4) -> float | None:
    """Python twin of functions/rounding.rnd(col, digits) for oracle
    fixtures."""
    if x is None or math.isnan(x):
        return None
    p = float(10**digits)
    if abs(x) * p >= float(2**63):
        return x
    return math.floor(abs(x) * p + 0.5) / p * (1.0 if x >= 0 else -1.0)


def _rnd4_py(x: float | None) -> float | None:
    return _rnd_py(x, 4)


def _dense_series_from_duckdb(sf_dir: str, event_types: tuple[str, ...]):
    """(event_type, hour_ts_str, value|None) over the catalog's calendar
    grid, computed entirely by DuckDB — the single-machine twin of the
    Spark queries' filter → hour-bucket avg → densify prefix."""
    import duckdb

    events = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(events):
        return None
    types = ", ".join(f"'{t}'" for t in event_types)
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            WITH cal AS (
              SELECT gs.h AS hour_ts
              FROM generate_series(TIMESTAMP '{RANGE_START}',
                                   TIMESTAMP '{RANGE_END}', INTERVAL 1 HOUR) gs(h)
            ), series AS (
              SELECT event_type, date_trunc('hour', ts) AS h,
                     round(avg(value), 6) AS v
              FROM '{events}' WHERE event_type IN ({types}) GROUP BY 1, 2
            ), keys AS (SELECT DISTINCT event_type FROM series)
            SELECT k.event_type, strftime(cal.hour_ts, '{TS_FMT_DUCK}') AS hts, s.v
            FROM keys k CROSS JOIN cal
            LEFT JOIN series s ON s.event_type = k.event_type AND s.h = cal.hour_ts
            ORDER BY 1, 2
            """
        ).fetchall()
    finally:
        con.close()
    return rows


def _series_arrays(rows):
    """rows → {event_type: (hour_ts list, numpy values with NaN gaps)}."""
    import numpy as np

    out: dict[str, tuple[list[str], list[float]]] = {}
    for et, hts, v in rows:
        hours, vals = out.setdefault(et, ([], []))
        hours.append(hts)
        vals.append(np.nan if v is None else float(v))
    return {
        et: (hours, np.asarray(vals, dtype="float64"))
        for et, (hours, vals) in out.items()
    }


def _literal_table(header: str, cols: str, rows: list[str]) -> str:
    return (
        f"SELECT {header}\nFROM (VALUES\n  "
        + ",\n  ".join(rows)
        + f"\n) AS t({cols})"
    )


def _sql_val(x: float | None) -> str:
    return "NULL" if x is None else repr(x)


def _t3_oracle_sql(sf_dir: str) -> str | None:
    """Expected output of t3_spline_impute_view_series as a literal table:
    DuckDB densifies, the reference-parity numpy kernel
    (operators/impute.py::_spline_fill_series, mirroring the reference's
    impute_missing.py:41-98 short-gap ladder) fills, rnd(·,4) rounds."""
    try:
        rows = _dense_series_from_duckdb(sf_dir, ("view",))
        if not rows:
            return None
        series = _series_arrays(rows)
        hours, vals = series["view"]
        filled = _spline_fill_series(vals, short_gap_max=3)
        lits = [
            f"('view', '{h}', {_sql_val(_rnd4_py(v if not math.isnan(v) else None))})"
            for h, v in zip(hours, filled.tolist())
        ]
        return _literal_table(
            "series_key, hour_ts, CAST(value_filled AS DOUBLE) AS value_filled",
            "series_key, hour_ts, value_filled",
            lits,
        )
    except Exception:
        return None


def _t5_oracle_sql(sf_dir: str) -> str | None:
    """Expected output of t5_impute_pipeline_demo: the same two-phase
    policy as operators/impute.py::impute_missing_values, computed
    single-machine — long runs (>=4) filled by the calendar-slot cascade
    (slot mean → series mean → global mean; on this grid every (month,
    day, hour) slot is unique per key, so slot means are NULL at gaps
    and the cascade lands on the series mean), then the spline kernel
    fills short runs with historical fills as anchors."""
    try:
        import numpy as np

        rows = _dense_series_from_duckdb(sf_dir, ("view", "click"))
        if not rows:
            return None
        series = _series_arrays(rows)
        all_vals = np.concatenate([vals for _h, vals in series.values()])
        # fill means rounded to 6 to mirror the engine's
        # fill_round_digits=6 (FP-order safety across engines)
        global_mean = (
            _rnd_py(float(np.nanmean(all_vals)), 6)
            if not np.all(np.isnan(all_vals))
            else None
        )
        lits = []
        for et in sorted(series):
            hours, vals = series[et]
            hist = vals.copy()
            series_mean = (
                _rnd_py(float(np.nanmean(vals)), 6)
                if not np.all(np.isnan(vals))
                else None
            )
            fill = series_mean if series_mean is not None else global_mean
            for start, length in find_consecutive_missing_groups(vals):
                if length >= 4 and fill is not None:
                    hist[start : start + length] = fill
            filled = _spline_fill_series(hist, short_gap_max=3)
            lits += [
                f"('{et}', '{h}', {_sql_val(_rnd4_py(v if not math.isnan(v) else None))})"
                for h, v in zip(hours, filled.tolist())
            ]
        return _literal_table(
            "event_type, hour_ts, CAST(value_filled AS DOUBLE) AS value_filled",
            "event_type, hour_ts, value_filled",
            lits,
        )
    except Exception:
        return None


# --- Energy-dashboard analytics: peaks, anomalies, duration curve ---
# The reference serves Grafana panels over the hourly PV/load series
# (daily_pv_automation's rollup tables); these four are the standard
# panels a generation dashboard adds on top: daily peak hour, rolling
# anomaly flags, the load-duration curve, and a peak/off-peak tariff
# profile. All run over the |types| x |days| (x 24) aggregate, never
# the raw event stream, so window state is calendar-bounded at any
# corpus size.


def daily_peak_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): the hour with the highest summed value —
    the daily-peak panel. The hourly rollup happens FIRST (map-side
    combine absorbs the event fan-in), so the rank window partitions
    over at most 24 rows per (type, day) — never event-sized state.
    Rank orders on the rounded total with an hour tiebreak so both
    engines pick identical peaks."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(rnd(F.sum("value"), 4).alias("hour_total"))
    w = Window.partitionBy("event_type", "day").orderBy(
        F.col("hour_total").desc(), F.col("hour").asc()
    )
    return (
        hourly.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            "day",
            F.col("hour").alias("peak_hour"),
            F.col("hour_total").alias("peak_total"),
        )
    )


DAILY_PEAK_SQL = """
WITH hourly AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
         round(sum(value), 4) AS hour_total
  FROM events GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY event_type, day
           ORDER BY hour_total DESC, hour ASC) AS rn
  FROM hourly
)
SELECT event_type, day, hour AS peak_hour, hour_total AS peak_total
FROM ranked WHERE rn = 1
"""


def rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags over daily totals — the alerting
    rule behind a "generation collapsed / meter spiked" panel. The
    baseline is a TRAILING calendar-true 14-day RANGE frame that
    EXCLUDES the current day (an anomalous day must not defend itself
    by inflating its own baseline), keyed on the day index like
    a13_moving_avg_7d so calendar gaps shrink the window instead of
    silently reaching further back. Variance comes from the explicit
    (sum, sum-of-squares, n) form over ALREADY-4-ROUNDED day totals,
    and mean/sd are re-rounded at 6 digits before the z division, so
    the published z is a pure function of engine-portable values.
    Rows need >= 7 baseline days and positive spread to score."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(rnd(F.sum("value"), 4).alias("day_total"))
    idx = F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
    w = Window.partitionBy("event_type").orderBy(idx).rangeBetween(-14, -1)
    n = F.count("day_total").over(w)
    s = F.sum("day_total").over(w)
    ss = F.sum(F.col("day_total") * F.col("day_total")).over(w)
    scored = daily.select(
        "event_type",
        "day",
        "day_total",
        n.cast("bigint").alias("n_baseline"),
        rnd(s / n, 6).alias("baseline_mean"),
        # greatest(n-1, 1): rows with n<7 never survive the filter, but
        # under ANSI mode the projection must not be able to divide by
        # zero even if the optimizer evaluates it before the filter
        rnd(
            F.sqrt(
                F.greatest(
                    (ss - s * s / n) / F.greatest(n - 1, F.lit(1)),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("baseline_sd"),
    ).filter((F.col("n_baseline") >= 7) & (F.col("baseline_sd") > 0.0))
    z = rnd(
        (F.col("day_total") - F.col("baseline_mean"))
        / F.col("baseline_sd"),
        4,
    )
    return scored.select(
        "event_type",
        "day",
        "day_total",
        "n_baseline",
        "baseline_mean",
        "baseline_sd",
        z.alias("zscore"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


ROLLING_ZSCORE_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         round(sum(value), 4) AS day_total
  FROM events GROUP BY 1, 2
), framed AS (
  SELECT event_type, day, day_total,
         CAST(count(day_total) OVER w AS BIGINT) AS n,
         sum(day_total) OVER w AS s,
         sum(day_total * day_total) OVER w AS ss
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               RANGE BETWEEN INTERVAL 14 DAY PRECEDING
                         AND INTERVAL 1 DAY PRECEDING)
), scored AS (
  SELECT event_type, day, day_total, n AS n_baseline,
         round(s / n, 6) AS baseline_mean,
         round(sqrt(greatest((ss - s * s / n) / greatest(n - 1, 1), 0.0)), 6)
           AS baseline_sd
  FROM framed
  WHERE n >= 7
)
SELECT event_type, day, day_total, n_baseline, baseline_mean, baseline_sd,
       round((day_total - baseline_mean) / baseline_sd, 4) AS zscore,
       abs(round((day_total - baseline_mean) / baseline_sd, 4)) > 2.0
         AS is_anomaly
FROM scored
WHERE baseline_sd > 0.0
"""


def day_over_day_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day deltas per event type — the "vs yesterday" panel.
    ``lag`` over the per-(type, day) aggregate returns the previous
    PRESENT day (the emitted ``prev_day`` column makes calendar gaps
    explicit rather than silently comparing across them); the percent
    change divides the ROUNDED totals and only where the base is
    nonzero, so the published figures are pure functions of
    hash-checked values in both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(rnd(F.sum("value"), 4).alias("day_total"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev_day = F.lag("day").over(w)
    prev_total = F.lag("day_total").over(w)
    return daily.select(
        "event_type",
        "day",
        "day_total",
        prev_day.alias("prev_day"),
        prev_total.alias("prev_total"),
        rnd(F.col("day_total") - prev_total, 4).alias("delta"),
        F.when(
            prev_total != 0.0,
            rnd(
                100.0 * (F.col("day_total") - prev_total) / prev_total, 4
            ),
        ).alias("pct_change"),
    )


DAY_OVER_DAY_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         round(sum(value), 4) AS day_total
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, day_total,
       lag(day) OVER w AS prev_day,
       lag(day_total) OVER w AS prev_total,
       round(day_total - lag(day_total) OVER w, 4) AS delta,
       CASE WHEN lag(day_total) OVER w <> 0.0
            THEN round(100.0 * (day_total - lag(day_total) OVER w)
                       / lag(day_total) OVER w, 4)
            END AS pct_change
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


LDC_PCTS = [0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]


def load_duration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-duration curve per event_type: the hourly-total value
    exceeded in (1-p) of all hours, read off the exact type-7 quantile
    at 11 points — the capacity-planning curve every energy dashboard
    draws. Quantiles run over the |days| x 24 hourly AGGREGATE (the
    value multiset is calendar-bounded, so exact percentile memory is
    too); Spark ``percentile`` and DuckDB ``quantile_cont`` share the
    type-7 definition (txt_length_percentiles precedent), rnd(.,4)
    absorbing last-ulp interpolation drift."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hour"),
    ).agg(rnd(F.sum("value"), 4).alias("hour_total"))
    return hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        *[
            rnd(F.percentile("hour_total", p), 4).alias(
                f"p{int(round(p * 100)):03d}"
            )
            for p in LDC_PCTS
        ],
    )


def _ldc_sql() -> str:
    cols = ",\n       ".join(
        f"round(quantile_cont(hour_total, {p}), 4) AS p{int(round(p * 100)):03d}"
        for p in LDC_PCTS
    )
    return f"""
WITH hourly AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         EXTRACT(hour FROM ts) AS hour,
         round(sum(value), 4) AS hour_total
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
       {cols}
FROM hourly GROUP BY event_type
"""


LOAD_DURATION_SQL = _ldc_sql()


def peak_offpeak_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tariff-band profile: events bucketed by (weekend?, peak-hours?)
    per type — the peak(08:00-20:00)/off-peak split a time-of-use
    tariff bills against. One grouped aggregate over four buckets per
    type; the mean is derived from the ROUNDED total so it hashes
    identically in both engines. Weekday convention pinned: Spark
    ``weekday`` (Mon=0) >= 5 ≡ DuckDB ``isodow`` (Mon=1) >= 6."""
    ev = load_table(spark, sf_dir, "events")
    grouped = (
        ev.withColumn("is_weekend", F.expr("weekday(ts)") >= 5)
        .withColumn(
            "is_peak", (F.hour("ts") >= 8) & (F.hour("ts") < 20)
        )
        .groupBy("event_type", "is_weekend", "is_peak")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            rnd(F.sum("value"), 4).alias("total_value"),
        )
    )
    return grouped.withColumn(
        "avg_value", rnd(F.col("total_value") / F.col("n_events"), 4)
    )


PEAK_OFFPEAK_SQL = """
SELECT event_type,
       date_part('isodow', ts) >= 6 AS is_weekend,
       EXTRACT(hour FROM ts) >= 8 AND EXTRACT(hour FROM ts) < 20
         AS is_peak,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value,
       round(round(sum(value), 4) / count(*), 4) AS avg_value
FROM events
GROUP BY 1, 2, 3
"""


# --- ST2: funnel conversion by weekly cohort ---
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase funnel by weekly first-click cohort: for each
    user, the first click and the first purchase AT OR AFTER it; a user
    converts if that purchase lands within 7 days. The product-analytics
    twin of the reference's completeness dashboards — and the as-of
    (forward-match) join shape expressed as join+min-aggregate.

    The per-user first-click table is aggregated BEFORE the purchase
    join, so the shuffle joins clicks' key cardinality (users), not the
    raw click stream; both join sides hash on user_id, and the min()
    re-aggregation reuses that partitioning (no second exchange in the
    plan). Cohort week = Monday of the first click, computed with
    datediff-from-epoch-Monday arithmetic on the DATE — deliberately
    NOT date_trunc('week'), which converts NTZ→instant and would make
    the cohort label depend on the session timezone."""
    ev = load_table(spark, sf_dir, "events")
    fc = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        fc.join(
            purch,
            (fc.user_id == purch.p_user) & (purch.p_ts >= fc.first_click),
            "left",
        )
        .groupBy("user_id", "first_click")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    click_date = F.to_date("first_click")
    monday = F.date_sub(
        click_date,
        F.datediff(click_date, F.lit("1970-01-05").cast("date")) % 7,
    )
    converted = F.col("first_purchase").isNotNull() & (
        F.col("first_purchase") < F.col("first_click") + F.expr("INTERVAL 7 DAYS")
    )
    return (
        conv.groupBy(F.date_format(monday, "yyyy-MM-dd").alias("cohort_week"))
        .agg(
            F.count(F.lit(1)).alias("n_clickers"),
            F.sum(F.when(converted, 1).otherwise(0))
            .cast("bigint")
            .alias("n_converted_7d"),
            rnd(F.avg(F.when(converted, 1.0).otherwise(0.0)), 6).alias(
                "conv_rate_7d"
            ),
        )
        .orderBy("cohort_week")
    )


FUNNEL_SQL = """
WITH fc AS (
  SELECT user_id, min(ts) AS first_click
  FROM events WHERE event_type = 'click' GROUP BY user_id
), conv AS (
  SELECT fc.user_id, first_click, min(e.ts) AS first_purchase
  FROM fc LEFT JOIN events e
    ON e.user_id = fc.user_id
   AND e.event_type = 'purchase'
   AND e.ts >= first_click
  GROUP BY fc.user_id, first_click
)
SELECT strftime(first_click::DATE
                - CAST(datediff('day', DATE '1970-01-05', first_click::DATE) % 7
                       AS INTEGER),
                '%Y-%m-%d') AS cohort_week,
       count(*) AS n_clickers,
       CAST(sum(CASE WHEN first_purchase IS NOT NULL
                      AND first_purchase < first_click + INTERVAL 7 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_7d,
       round(avg(CASE WHEN first_purchase IS NOT NULL
                       AND first_purchase < first_click + INTERVAL 7 DAY
                      THEN 1.0 ELSE 0.0 END), 6) AS conv_rate_7d
FROM conv
GROUP BY 1 ORDER BY 1
"""


# --- TS: winsorized (outlier-clamped) daily totals -----------------------
WINSOR_LO, WINSOR_HI = 0.01, 0.99


def winsorized_daily_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily totals: per-type values clamped to the type's
    [p01, p99] band before summation — the standard winsorization that
    keeps one stuck sensor or fat-finger meter reading from owning a
    day's dashboard total, reported next to the raw sum so the clamped
    mass is visible.

    Two passes over events, both aggregate-shaped: pass 1 computes the
    per-type exact type-7 quantiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``; the group count is type-bounded — at 100 TB this
    switches to ``approx_percentile``, strategy not semantics); the
    per-type band — a |types|-row table — rides back as a BROADCAST
    join, and pass 2 is the ordinary map-side-combining daily rollup
    over the clamped expression. Quantiles round to 6 BEFORE the clamp
    so both engines cut identical boundaries; sums round to 4.

    NULL values are filtered up front: unguarded, least/greatest would
    silently coerce a NULL reading to q_lo (both engines skip NULLs in
    least/greatest), inflating the winsorized total with rows that the
    raw sum and the clamp counter both ignore."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    bands = ev.groupBy("event_type").agg(
        rnd(F.percentile("value", WINSOR_LO), 6).alias("q_lo"),
        rnd(F.percentile("value", WINSOR_HI), 6).alias("q_hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("q_lo")), F.col("q_hi"))
    return (
        ev.join(F.broadcast(bands), "event_type")
        .groupBy(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 4).alias("raw_total"),
            rnd(F.sum(clamped), 4).alias("winsorized_total"),
            F.sum(
                ((F.col("value") < F.col("q_lo")) | (F.col("value") > F.col("q_hi")))
                .cast("long")
            )
            .cast("bigint")
            .alias("n_clamped"),
        )
        .orderBy("event_type", "day")
    )


WINSORIZED_SQL = f"""
WITH ev AS (
  SELECT event_type, ts, value FROM events WHERE value IS NOT NULL
), bands AS (
  SELECT event_type,
         round(quantile_cont(value, {WINSOR_LO}), 6) AS q_lo,
         round(quantile_cont(value, {WINSOR_HI}), 6) AS q_hi
  FROM ev GROUP BY event_type
)
SELECT ev.event_type,
       strftime(ts, '%Y-%m-%d') AS day,
       count(*) AS n_events,
       round(sum(value), 4) AS raw_total,
       round(sum(least(greatest(value, q_lo), q_hi)), 4) AS winsorized_total,
       CAST(sum(CASE WHEN value < q_lo OR value > q_hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clamped
FROM ev JOIN bands ON ev.event_type = bands.event_type
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --- ST: DAU / trailing-7-day WAU / stickiness ------------------------
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day weekly active users, and the
    DAU/WAU stickiness ratio — the engagement staple. The trailing
    distinct-count is computed by CONTRIBUTION, not by window: each
    (day, user) activity row is exploded to the 7 output days it keeps
    the user active for, then one distinct-count per day — a classic
    trick because count(DISTINCT) cannot ride a sliding window in
    either engine. Cost is 7x the (day, user) DISTINCT pairs (entity x
    day sized, never event volume), embarrassingly parallel."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    # offset-tagged contribution: one frame serves BOTH counts (DAU =
    # distinct users whose offset-0 contribution lands on the day), so
    # the event stream is scanned exactly once
    span = du.select(
        "user_id",
        F.posexplode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("off", "wday"),
    )
    both = span.groupBy("wday").agg(
        F.countDistinct(
            F.when(F.col("off") == 0, F.col("user_id"))
        ).alias("dau"),
        F.countDistinct("user_id").alias("wau"),
    )
    return (
        both.filter(F.col("dau") > 0)
        .select(
            F.date_format("wday", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            rnd(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


DAU_WAU_SQL = """
WITH du AS (
  SELECT DISTINCT ts::DATE AS day, user_id FROM events
), dau AS (
  SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1
), span AS (
  SELECT du.user_id, du.day + g.i AS wday
  FROM du CROSS JOIN
       (SELECT CAST(unnest(generate_series(0, 6)) AS INTEGER) AS i) g
), wau AS (
  SELECT wday, count(DISTINCT user_id) AS wau FROM span GROUP BY 1
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
       round(dau * 1.0 / wau, 6) AS stickiness
FROM dau d JOIN wau w ON d.day = w.wday
"""


# --- ST: click -> purchase conversion-latency percentiles -------------
def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency distribution from a user's FIRST click to their FIRST
    purchase (users whose first purchase precedes their first click are
    excluded — they converted through another path). Quartiles + p90
    via exact percentile (type-7, quantile_cont-parity); at billions of
    users the cut switches to approx_percentile, changing strategy,
    not semantics.

    One conditional-min pass over the two event slices builds the
    user-level (first_click, first_purchase) pair — map-side combine,
    user-count shuffle — and the latency math is NTZ-safe
    MICROSECOND arithmetic (timestamp_diff), never unix_timestamp."""
    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "click", F.col("ts"))
            ).alias("first_click"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("first_purchase"),
        )
    )
    lat = firsts.filter(
        F.col("first_click").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_click"))
    ).select(
        rnd(
            F.timestamp_diff(
                "MICROSECOND", F.col("first_click"), F.col("first_purchase")
            )
            / 1000000.0,
            6,
        ).alias("latency_s")
    )
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        rnd(F.percentile("latency_s", 0.25), 6).alias("p25_s"),
        rnd(F.percentile("latency_s", 0.5), 6).alias("p50_s"),
        rnd(F.percentile("latency_s", 0.75), 6).alias("p75_s"),
        rnd(F.percentile("latency_s", 0.9), 6).alias("p90_s"),
    )


TIME_TO_CONVERT_SQL = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
), lat AS (
  SELECT round(date_diff('microsecond', first_click, first_purchase)
               / 1000000.0, 6) AS latency_s
  FROM firsts
  WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_click
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       round(quantile_cont(latency_s, 0.25), 6) AS p25_s,
       round(quantile_cont(latency_s, 0.50), 6) AS p50_s,
       round(quantile_cont(latency_s, 0.75), 6) AS p75_s,
       round(quantile_cont(latency_s, 0.90), 6) AS p90_s
FROM lat
"""


# --- TS: lag-k autocorrelation of the daily series --------------------
def autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-lag autocorrelation (k = 1..7) of each type's daily-total
    series — the seasonality fingerprint (weekly cycles surface as an
    acf peak at k=7). Pearson over (total, lag-k total) pairs with
    NULL-lag rows dropped explicitly so both engines see identical
    pair sets; daily totals round to 4 first so cross-engine sum ulps
    cannot perturb the inputs.

    The series is |types| x |days| — window-lag over a tiny frame; the
    only event-volume work is the one daily rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(rnd(F.sum("value"), 4).alias("total"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "total",
        *[F.lag("total", k).over(w).alias(f"_l{k}") for k in range(1, 8)],
    )
    stacked = lagged.select(
        "event_type",
        "total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"), F.col(f"_l{k}").alias("lagged")
                    )
                    for k in range(1, 8)
                ]
            )
        ).alias("s"),
    ).select(
        "event_type",
        F.col("s.k").cast("bigint").alias("lag_k"),
        "total",
        F.col("s.lagged").alias("lagged"),
    )
    return (
        stacked.filter(F.col("lagged").isNotNull())
        .groupBy("event_type", "lag_k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            rnd(F.corr("total", "lagged"), 6).alias("acf"),
        )
        .orderBy("event_type", "lag_k")
    )


AUTOCORR_SQL = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, round(sum(value), 4) AS total
  FROM events GROUP BY 1, 2
), numbered AS (
  SELECT event_type, total,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
)
SELECT a.event_type, k.lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
       round(corr(a.total, b.total), 6) AS acf
FROM numbered a
CROSS JOIN (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS lag_k) k
JOIN numbered b
  ON b.event_type = a.event_type AND b.rn = a.rn - k.lag_k
GROUP BY 1, 2
"""


# --- TS: CUSUM change-point detection ---------------------------------
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection per type: standardize the daily
    totals against the series mean/std, accumulate, and report the day
    where |cusum| peaks — the classic argmax estimator of a single
    change point. Mean, std and each z round to 6 BEFORE the
    accumulation so both engines fold bit-identical addends in the
    same (day-ordered) sequence; ties on |cusum| break to the earliest
    day. All windows run over the |types| x |days| rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(rnd(F.sum("value"), 4).alias("total"))
    w_all = Window.partitionBy("event_type")
    stats = daily.select(
        "event_type",
        "day",
        "total",
        rnd(F.avg("total").over(w_all), 6).alias("_mu"),
        rnd(F.stddev_samp("total").over(w_all), 6).alias("_sd"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
    )
    z = stats.select(
        "event_type",
        "day",
        "_n",
        rnd(
            F.when(
                F.col("_sd") > 0, (F.col("total") - F.col("_mu")) / F.col("_sd")
            ),
            6,
        ).alias("z"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cs = z.select(
        "event_type",
        "day",
        "_n",
        rnd(F.sum("z").over(w_run), 6).alias("cusum"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day").asc()
    )
    return (
        cs.withColumn("_rk", F.row_number().over(w_pick))
        .filter(F.col("_rk") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("change_day"),
            F.col("cusum").alias("peak_cusum"),
            F.col("_n").cast("bigint").alias("n_days"),
        )
        .orderBy("event_type")
    )


CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, round(sum(value), 4) AS total
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, day, total,
         round(avg(total) OVER (PARTITION BY event_type), 6) AS mu,
         round(stddev_samp(total) OVER (PARTITION BY event_type), 6) AS sd,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
), z AS (
  SELECT event_type, day, n,
         round(CASE WHEN sd > 0 THEN (total - mu) / sd END, 6) AS z
  FROM stats
), cs AS (
  SELECT event_type, day, n,
         round(sum(z) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING), 6) AS cusum
  FROM z
), pick AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(cusum) DESC, day ASC) AS rk
  FROM cs
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS change_day,
       cusum AS peak_cusum, CAST(n AS BIGINT) AS n_days
FROM pick WHERE rk = 1
"""


# --- Markov transition matrix over per-user event sequences ---
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    each (from_type, to_type) pair, how often a user's next event is
    `to_type` given the current is `from_type`, with the conditional
    probability. The sequence-mining primitive behind next-action
    prediction features and anomalous-flow detection.

    Scale shape: ONE events scan; the lead() window shuffles the
    stream once on user_id (each user's timeline sorts independently —
    no global sort), the pair count is a map-side-combined groupBy
    over a |types|² domain, and the row-normalization runs as a window
    over that tiny matrix, never a second pass. Ordering ties break on
    event_id so both engines see the same successor."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    row_total = F.sum("n_transitions").over(Window.partitionBy("from_type"))
    return (
        counts.withColumn(
            "p_transition", rnd(F.col("n_transitions") / row_total, 6)
        )
        .orderBy("from_type", "to_type")
    )


TRANSITION_MATRIX_SQL = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n_transitions,
       round(count(*) * 1.0 /
             sum(count(*)) OVER (PARTITION BY from_type), 6) AS p_transition
FROM seq WHERE to_type IS NOT NULL
GROUP BY 1, 2
ORDER BY from_type, to_type
"""


# --- SCD2 history build: dominant activity type per user over time ---
def scd2_dominant_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event stream:
    each user's dominant daily event type, collapsed into validity
    ranges [valid_from, valid_to] over consecutive observations — the
    change-data-capture shape that turns an append-only fact stream
    into a versioned dimension. Runs of the same dominant type merge
    (gap days with no events don't split a run — observation
    semantics, the standard SCD2-from-events convention).

    Scale shape: ONE events scan into a (user, day, type) map-side-
    combined aggregate — the only event-volume shuffle; the daily-mode
    rank, the two run-id row_numbers (the gaps-and-islands trick) and
    the final range collapse all run over the user×day-sized frame.
    Mode ties break on type name so both engines pick one winner."""
    ev = load_table(spark, sf_dir, "events")
    # The fact shuffle keeps its map-side combine (events carry several
    # rows per (user, day, type)), and the aggregate output is then
    # repartitioned by user_id ONCE: hash partitioning on user_id
    # satisfies the clustering requirement of every downstream operator
    # — the (user, day) mode-rank window, the (user) / (user, type)
    # run-id windows, and the final (user, type, grp) range collapse —
    # so none of them plans its own Exchange. The r12 before-plan paid
    # separate exchanges at (u,d,t), (u,d), and (u); now it is the
    # combined fact shuffle plus one user×day-sized repartition.
    daily = (
        ev.groupBy(
            "user_id",
            F.to_date("ts").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .repartition("user_id")
    )
    rk = F.row_number().over(
        Window.partitionBy("user_id", "day").orderBy(
            F.col("n").desc(), F.col("event_type").asc()
        )
    )
    dom = daily.withColumn("_rk", rk).filter(F.col("_rk") == 1)
    rn_all = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    rn_type = F.row_number().over(
        Window.partitionBy("user_id", "event_type").orderBy("day")
    )
    runs = dom.select(
        "user_id",
        "day",
        F.col("event_type").alias("dominant_type"),
        (rn_all - rn_type).alias("_grp"),
    )
    return (
        runs.groupBy("user_id", "dominant_type", "_grp")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("valid_from"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("valid_to"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .select("user_id", "dominant_type", "valid_from", "valid_to", "n_days")
        .orderBy("user_id", "valid_from", "dominant_type")
    )


SCD2_HISTORY_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2, 3
), dom AS (
  SELECT user_id, day, event_type FROM (
    SELECT user_id, day, event_type,
           row_number() OVER (PARTITION BY user_id, day
                              ORDER BY n DESC, event_type) AS rk
    FROM daily) WHERE rk = 1
), runs AS (
  SELECT user_id, day, event_type AS dominant_type,
         row_number() OVER (PARTITION BY user_id ORDER BY day)
         - row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY day) AS grp
  FROM dom
)
SELECT user_id, dominant_type,
       strftime(min(day), '%Y-%m-%d') AS valid_from,
       strftime(max(day), '%Y-%m-%d') AS valid_to,
       CAST(count(*) AS BIGINT) AS n_days
FROM runs GROUP BY user_id, dominant_type, grp
ORDER BY user_id, valid_from, dominant_type
"""


# --- seasonality strength: how much of the variance is the daily cycle ---
def seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, the fraction of hourly-total variance explained
    by the hour-of-day profile: var(hour-of-day means) / var(hourly
    series). Near 1 → the series IS its daily cycle (schedule-driven
    load); near 0 → no daily seasonality. The one-number screen before
    fitting any seasonal model or calendar-slot imputer.

    Scale shape: ONE events scan into the (type, day, hour) aggregate;
    the hour-of-day means attach to that SAME frame as a window over
    (type, hour) with a first-row flag, so the profile statistics fall
    out of the one final groupBy instead of a second aggregate branch
    (which would re-derive the frame and scan events twice). Variances
    are computed from explicit sums (n, Σx, Σx²) — the identical
    algebra in both engines — rather than var_samp, whose streaming
    implementations may disagree in the last ulps; hourly totals round
    to 4 before squaring so both engines square identical inputs."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(rnd(F.sum("value"), 4).alias("v"))
    w_hr = Window.partitionBy("event_type", "hr")
    annotated = hourly.withColumn(
        "m", F.sum("v").over(w_hr) / F.count(F.lit(1)).over(w_hr)
    ).withColumn(
        "rn", F.row_number().over(w_hr.orderBy("day"))
    )
    first = F.col("rn") == 1
    stats = annotated.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t"),
        F.sum("v").alias("s_t"),
        F.sum(F.col("v") * F.col("v")).alias("ss_t"),
        F.sum(F.when(first, 1).otherwise(0)).alias("n_p"),
        F.sum(F.when(first, F.col("m")).otherwise(0.0)).alias("s_p"),
        F.sum(F.when(first, F.col("m") * F.col("m")).otherwise(0.0)).alias(
            "ss_p"
        ),
    )
    # n>1 guard + NULLIF denominator: a type with a single hourly row
    # (or a zero total variance) must yield NULL in BOTH engines — an
    # unguarded (n-1) divides by zero, where Spark and DuckDB disagree
    var = lambda ss, s, n: F.when(  # noqa: E731
        F.col(n) > 1,
        (F.col(ss) - F.col(s) * F.col(s) / F.col(n)) / (F.col(n) - 1),
    )
    return stats.select(
        "event_type",
        rnd(
            var("ss_p", "s_p", "n_p")
            / F.nullif(var("ss_t", "s_t", "n_t"), F.lit(0.0)),
            6,
        ).alias("seasonality_strength"),
    ).orderBy("event_type")


SEASONALITY_SQL = """
WITH hourly AS (
  SELECT event_type, CAST(ts AS DATE) AS day, extract(hour FROM ts) AS hr,
         round(sum(value), 4) AS v
  FROM events GROUP BY 1, 2, 3
), total_stats AS (
  SELECT event_type, count(*) AS n_t, sum(v) AS s_t, sum(v * v) AS ss_t
  FROM hourly GROUP BY 1
), prof AS (
  SELECT event_type, hr, sum(v) / count(*) AS m FROM hourly GROUP BY 1, 2
), prof_stats AS (
  SELECT event_type, count(*) AS n_p, sum(m) AS s_p, sum(m * m) AS ss_p
  FROM prof GROUP BY 1
)
SELECT event_type,
       round(((ss_p - s_p * s_p / n_p) / NULLIF(n_p - 1, 0))
             / NULLIF((ss_t - s_t * s_t / n_t) / NULLIF(n_t - 1, 0), 0), 6)
         AS seasonality_strength
FROM total_stats JOIN prof_stats USING (event_type)
ORDER BY event_type
"""


# --- EWMA: exponentially weighted daily smoothing, alpha = 1/2 ---

_EWMA_TAPS = 16  # 0.5^15 ≈ 3e-5: the truncated tail is noise-level


def ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily totals per event
    type — the recursive smoother s_t = α·x_t + (1-α)·s_{t-1} expressed
    as its equivalent 16-tap FIR kernel over observation lags, with the
    weights renormalized over the taps that exist (series heads shrink
    the kernel instead of biasing toward zero).

    α is fixed at 1/2 so EVERY kernel weight is an exact power of two:
    multiplication by 2^-k is exact in IEEE doubles, the numerator adds
    identical addends in identical order in both engines, and the
    4-rounded result hashes identically — a non-dyadic α would put
    libm ``pow`` (not correctly-rounded, engine-dependent ulps) into
    the oracle contract. Inputs are the already-4-rounded daily totals
    (same rule as a13_moving_avg_7d). The window runs over the
    per-(type, day) aggregate — |types| × |days| rows, never
    event-sized; the 16 lag taps share ONE window spec, so Spark
    evaluates them in a single pass over each partition.

    The taps are materialized as named columns BEFORE the kernel
    arithmetic touches them: ``rnd`` references its argument ~5 times
    (sign/saturation branches) and Catalyst's window extraction does
    not dedup repeated lag expressions, so inlining the taps into
    ``rnd(num/den)`` physically planned 150 window expressions for the
    15 distinct lags (measured: the round-12 before-plan's Window node
    carried _we0.._we149). With the taps named, the Window operator
    evaluates exactly 15, and the rounding branches recompute only
    cheap column arithmetic."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(rnd(F.sum("value"), 4).alias("day_total"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "day_total",
        *[
            F.lag("day_total", k).over(w).alias(f"_tap{k}")
            for k in range(1, _EWMA_TAPS)
        ],
    )
    num = F.coalesce(F.col("day_total") * F.lit(1.0), F.lit(0.0))
    den = F.lit(1.0)
    for k in range(1, _EWMA_TAPS):
        tap = F.col(f"_tap{k}")
        num = num + F.coalesce(tap * F.lit(0.5**k), F.lit(0.0))
        den = den + F.when(tap.isNull(), F.lit(0.0)).otherwise(
            F.lit(0.5**k)
        )
    return lagged.select(
        "event_type",
        "day",
        "day_total",
        rnd(num / den, 4).alias("ewma"),
    ).orderBy("event_type", "day")


def _ewma_sql() -> str:
    num_terms = ["coalesce(day_total * 1.0, 0.0)"]
    den_terms = ["1.0"]
    for k in range(1, _EWMA_TAPS):
        num_terms.append(f"coalesce(lag(day_total, {k}) OVER w * {0.5**k!r}, 0.0)")
        den_terms.append(
            f"CASE WHEN lag(day_total, {k}) OVER w IS NULL"
            f" THEN 0.0 ELSE {0.5**k!r} END"
        )
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         round(sum(value), 4) AS day_total
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, day_total,
       round(({num}) / ({den}), 4) AS ewma
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
ORDER BY event_type, day
"""


# --- cross-correlation: lead/lag between two event-type series ---

_XCORR_LAGS = tuple(range(-3, 4))


def cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag Pearson correlation between the click and purchase
    daily-total series: r(lag) of purchase(t) vs click(t − lag) for
    lag ∈ [−3, +3] — does click volume LEAD purchase volume, and by
    how many days? The classic causality-screening diagnostic next to
    ``ts_autocorrelation`` (same series against itself).

    Execution shape: ONE events scan → per-(type, day) totals (rounded
    4 first, the repo sum-parity rule), the two series split and
    joined per lag through a broadcast 7-row lag dimension —
    |days| × |lags| joined rows, never event-sized. Pearson comes from
    explicit n/Σx/Σy/Σxy/Σx²/Σy² sums (the seasonality-strength
    convention — never corr(), whose streaming implementations drift
    in the last ulps), with NULLIF guards for degenerate lags."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(rnd(F.sum("value"), 4).alias("total"))
    )
    p = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("p_day"), F.col("total").alias("x")
    )
    c = daily.filter(F.col("event_type") == "click").select(
        F.col("day").alias("c_day"), F.col("total").alias("y")
    )
    lags = spark.createDataFrame(
        [(int(v),) for v in _XCORR_LAGS], "lag int"
    )
    joined = (
        p.crossJoin(F.broadcast(lags))
        .join(
            c,
            F.col("c_day") == F.date_add(F.col("p_day"), -F.col("lag")),
        )
    )
    agg = joined.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # greatest(0, ·) on each variance factor: a near-constant rounded
    # series computes n*Σx² − (Σx)² a few ulps NEGATIVE, where DuckDB's
    # sqrt hard-errors while Spark yields NaN — the same guard the
    # rolling z-score uses
    denom = F.sqrt(
        F.greatest(
            F.lit(0.0),
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
        )
        * F.greatest(
            F.lit(0.0),
            F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"),
        )
    )
    return agg.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_days"),
        rnd(
            F.when(
                denom != 0.0,
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / denom,
            ),
            6,
        ).alias("pearson_r"),
    ).orderBy("lag")


XCORR_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 4) AS total
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
), p AS (
  SELECT day AS p_day, total AS x FROM daily WHERE event_type = 'purchase'
), c AS (
  SELECT day AS c_day, total AS y FROM daily WHERE event_type = 'click'
), lags AS (
  SELECT CAST(unnest([{", ".join(str(v) for v in _XCORR_LAGS)}]) AS INT)
         AS lag
), agg AS (
  SELECT lag,
         CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM p CROSS JOIN lags
  JOIN c ON c_day = p_day - CAST(lag AS INT)
  GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_days,
       round(CASE WHEN sqrt(greatest(0.0, n * sxx - sx * sx)
                            * greatest(0.0, n * syy - sy * sy)) <> 0.0
                  THEN (n * sxy - sx * sy)
                       / sqrt(greatest(0.0, n * sxx - sx * sx)
                              * greatest(0.0, n * syy - sy * sy))
             END, 6) AS pearson_r
FROM agg
ORDER BY lag
"""


# --- robust spread + outlier profile: median / IQR / MAD ---


def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust spread profile: median, IQR, MAD (median of
    |x − median|) and the Tukey-fence outlier count
    (x outside [q1 − 1.5·IQR, q3 + 1.5·IQR]) — the distribution-free
    counterpart of ``ts_rolling_zscore_anomalies``'s mean/std scoring
    and the calibration table a winsorization policy reads.

    Two passes (the MAD's inner median forces it): pass 1 collects the
    per-type quartiles (|types|×3 literals — deterministic-literal
    rule), pass 2 computes MAD and fence counts in ONE aggregate with
    the quartiles riding along as a broadcast 4-row frame. Exact
    ``percentile`` ≡ ``quantile_cont`` both passes; both engines
    evaluate the fence arithmetic on the same doubles in the same
    shape, so boundary comparisons agree."""
    ev = load_table(spark, sf_dir, "events")
    qrows = (
        ev.groupBy("event_type")
        .agg(
            F.percentile(
                "value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
            ).alias("q")
        )
        .collect()
    )
    qframe = spark.createDataFrame(
        [
            (r["event_type"], float(r["q"][0]), float(r["q"][1]), float(r["q"][2]))
            for r in qrows
        ],
        "event_type string, q1 double, med double, q3 double",
    )
    j = ev.join(F.broadcast(qframe), "event_type")
    iqr = F.col("q3") - F.col("q1")
    is_out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return (
        j.groupBy("event_type", "q1", "med", "q3")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias(
                "_mad"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.sum(is_out.cast("long")).cast("bigint").alias("n_outliers"),
        )
        .select(
            "event_type",
            rnd(F.col("med"), 6).alias("median"),
            rnd(F.col("q3") - F.col("q1"), 6).alias("iqr"),
            rnd(F.col("_mad"), 6).alias("mad"),
            "n_values",
            "n_outliers",
        )
        .orderBy("event_type")
    )


MAD_OUTLIERS_SQL = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.5) AS med,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY 1
), j AS (
  SELECT e.event_type, e.value, q1, med, q3
  FROM events e JOIN q USING (event_type)
)
SELECT event_type,
       round(med, 6) AS median,
       round(q3 - q1, 6) AS iqr,
       round(quantile_cont(abs(value - med), 0.5), 6) AS mad,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(sum(CASE WHEN value < q1 - 1.5 * (q3 - q1)
                       OR value > q3 + 1.5 * (q3 - q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM j
GROUP BY event_type, q1, med, q3
ORDER BY event_type
"""


# --- per-type OLS trend over daily totals ---------------------------------
def linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend line over the daily-total series: slope
    (value/day), intercept (fitted value at the series' first day) and
    r² — the "is this metric growing, and how cleanly" panel next to
    ts_day_over_day_change's noisy deltas.

    Conventions shared with seasonality/zipf: daily totals round to 4
    BEFORE the regression sums so both engines fold identical addends;
    slope/intercept/r² come from explicit n/Σx/Σy/Σxy/Σxx/Σyy closed
    forms (never an engine regression aggregate, whose streaming
    implementations drift in the last ulps); degenerate series (a
    single day, or zero x/y variance) emit NULL through the same
    NULLIF/when guards in both engines. x is the day offset from the
    type's own first day — integers, so every x product is IEEE-exact.
    One events scan; the regression input is the |types|×|days| daily
    frame and everything after is |types|-sized."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(rnd(F.sum("value"), 4).alias("y"))
    w = Window.partitionBy("event_type")
    pts = daily.select(
        "event_type",
        F.datediff("day", F.min("day").over(w)).cast("double").alias("x"),
        "y",
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.when((F.col("n") > 1) & (dxx != 0.0), num / dxx)
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        rnd(slope, 6).alias("slope"),
        rnd((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        rnd(
            F.when(
                (F.col("n") > 1) & (dxx != 0.0) & (dyy != 0.0),
                num * num / (dxx * dyy),
            ),
            6,
        ).alias("r2"),
    ).orderBy("event_type")


LINEAR_TREND_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 4) AS y
  FROM events GROUP BY 1, 2
), pts AS (
  SELECT event_type,
         CAST(date_diff('day', min(day) OVER (PARTITION BY event_type),
                        day) AS DOUBLE) AS x,
         y
  FROM daily
), s AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pts GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       round(CASE WHEN n > 1 AND n * sxx - sx * sx <> 0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6)
         AS slope,
       round((sy - CASE WHEN n > 1 AND n * sxx - sx * sx <> 0
                        THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END
                   * sx) / n, 6) AS intercept,
       round(CASE WHEN n > 1 AND n * sxx - sx * sx <> 0
                               AND n * syy - sy * sy <> 0
                  THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
         AS r2
FROM s ORDER BY event_type
"""


# --- Benford first-digit profile (value fraud/QC screen) -------------------
def benford_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of event values (values ≥ 1)
    against Benford's law — the classic fabricated-data / unit-mixup
    screen: organically generated magnitudes track log10(1 + 1/d),
    synthetic or truncated feeds pile onto specific digits.

    The leading digit comes from the INTEGER part rendered as a string
    (floor → bigint → substr) — integer-to-string is bit-identical
    across engines, where a log10-based normalization would put libm
    in the digit boundary itself (log10(1000) is not exactly 3 in every
    libm). ONE scan into a 9-row aggregate; the total is a window sum
    over those 9 rows (never a second pass over events); expected
    shares are log10 of digit rationals, rounded to 6 where every
    value is comfortably off the rounding boundary. Non-finite values
    are excluded EXPLICITLY: Spark's NaN compares greater-than-all (so
    NaN/+inf would pass a bare >= 1 filter) and its double→bigint cast
    silently clamps, where DuckDB's cast raises — the finite guard is
    what keeps the two engines on the same rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("value") >= 1.0)
        & (F.col("value") < 1.0e18)
        & ~F.isnan("value")
    )
    digit = F.substring(
        F.floor("value").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = ev.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(
        Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    share = F.col("n") / F.col("total")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        counts.withColumn("total", total)
        .select(
            "digit",
            "n",
            rnd(share, 6).alias("share"),
            rnd(benford, 6).alias("benford_share"),
            rnd(rnd(share, 6) - rnd(benford, 6), 6).alias("deviation"),
        )
        .orderBy("digit")
    )


BENFORD_SQL = """
WITH c AS (
  SELECT CAST(substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit,
         count(*) AS n
  FROM events
  WHERE value >= 1.0 AND value < 1.0e18 AND NOT isnan(value)
  GROUP BY 1
), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(n * 1.0 / total, 6) AS share,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_share,
       round(round(n * 1.0 / total, 6)
             - round(log10(1.0 + 1.0 / digit), 6), 6) AS deviation
FROM c, t ORDER BY digit
"""


TIMESERIES_QUERIES = {
    "t1_missing_purchase_days": (missing_purchase_days, MISSING_DAYS_SQL),
    "t2_purchase_gap_islands": (purchase_gap_islands, GAP_ISLANDS_SQL),
    "t4_view_series_hist_impute": (view_series_hist_impute, HIST_IMPUTE_SQL),
    "st_user_sessions": (user_sessions, SESSIONS_SQL),
    "ts_daily_peak_hours": (daily_peak_hours, DAILY_PEAK_SQL),
    "ts_day_over_day_change": (day_over_day_change, DAY_OVER_DAY_SQL),
    "ts_rolling_zscore_anomalies": (rolling_zscore_anomalies, ROLLING_ZSCORE_SQL),
    "ts_load_duration_curve": (load_duration_curve, LOAD_DURATION_SQL),
    "ts_peak_offpeak_profile": (peak_offpeak_profile, PEAK_OFFPEAK_SQL),
    # callable oracles: resolved with the grading sf_dir at oracle_sql()
    # time (the spline solve is not SQL-expressible; see module docstring)
    "t3_spline_impute_view_series": (spline_impute_view_series, _t3_oracle_sql),
    "t5_impute_pipeline_demo": (impute_pipeline_demo, _t5_oracle_sql),
    # round-8 session-4 additions APPEND so pre-existing merged catalog
    # order (part of the driver's sample-window surface) never shifts
    "st_funnel_conversion": (funnel_conversion, FUNNEL_SQL),
    "ts_winsorized_daily_totals": (winsorized_daily_totals, WINSORIZED_SQL),
    # round-9 additions APPEND (merged order is driver-sample surface)
    "st_dau_wau_stickiness": (dau_wau_stickiness, DAU_WAU_SQL),
    "st_time_to_convert": (time_to_convert, TIME_TO_CONVERT_SQL),
    "ts_autocorrelation": (autocorrelation, AUTOCORR_SQL),
    "ts_cusum_changepoints": (cusum_changepoints, CUSUM_SQL),
    # round-9 session-2 additions APPEND (merged order is sample surface)
    "st_event_transition_matrix": (
        event_transition_matrix,
        TRANSITION_MATRIX_SQL,
    ),
    "cdc_scd2_type_history": (
        scd2_dominant_type_history,
        SCD2_HISTORY_SQL,
    ),
    "ts_seasonality_strength": (seasonality_strength, SEASONALITY_SQL),
    # round-10 continuation additions APPEND (merged order is sample
    # surface); also fronted in catalog._SAMPLE_PRIORITY
    "ts_ewma_daily": (ewma_daily, _ewma_sql()),
    "ts_cross_correlation": (cross_correlation, XCORR_SQL),
    "ts_mad_robust_outliers": (mad_robust_outliers, MAD_OUTLIERS_SQL),
    # round-10 session-2 additions APPEND (merged order is sample surface)
    "ts_linear_trend": (linear_trend, LINEAR_TREND_SQL),
    "a20_benford_digit_profile": (benford_digit_profile, BENFORD_SQL),
    # round-12 session-2 additions APPEND (merged order is sample surface)
    "ts_holt_forecast": (holt_forecast, _holt_oracle),
    "st_top_paths": (top_event_paths, TOP_PATHS_SQL),
    "ts_holt_winters_forecast": (holt_winters_forecast, _holt_winters_oracle),
}
