"""Interactive analytics surface — the reference's flow 3.3 (Grafana
panels firing raw SQL at Postgres, docker/grafana/dashboards/*.json).

Catalyst replaces Postgres: the panel queries run verbatim-ish through
``spark.sql`` over registered views. Each panel is kept as a named SQL
string so the serving layer stays declarative (predicate pushdown,
partition pruning, AQE all apply)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources import register_views

# Panel SQL over the synthetic star schema, shaped like the reference's
# dashboards: time-bucketed sums, window totals, top-K, entity counts
# (pv_dashboard.json:211,296,364; pv_test dashboards panels 10-21).
DASHBOARD_PANELS: dict[str, str] = {
    "hourly_generation_timeseries": """
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS time,
               event_type, SUM(value) AS total
        FROM events
        WHERE ts >= TIMESTAMP_NTZ '2024-01-01 00:00:00'
          AND ts <  TIMESTAMP_NTZ '2024-02-01 00:00:00'
        GROUP BY 1, 2 ORDER BY time
    """,
    "window_total_stat": """
        SELECT SUM(value) AS total FROM events
        WHERE ts >= TIMESTAMP_NTZ '2024-01-01 00:00:00'
          AND ts <  TIMESTAMP_NTZ '2024-02-01 00:00:00'
    """,
    "top10_entities": """
        SELECT user_id, SUM(value) AS total FROM events
        GROUP BY user_id ORDER BY total DESC, user_id LIMIT 10
    """,
    "active_entity_count": """
        SELECT COUNT(DISTINCT user_id) AS n_entities FROM events
    """,
    "daily_total_30d": """
        SELECT CAST(ts AS DATE) AS day, SUM(value) AS total FROM events
        WHERE ts >= TIMESTAMP_NTZ '2024-01-01 00:00:00'
        GROUP BY 1 ORDER BY day
    """,
}


def dashboard_queries() -> dict[str, str]:
    return dict(DASHBOARD_PANELS)


def serve_dashboard(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register the table views and return each panel's DataFrame
    (lazily planned; callers collect per panel exactly like Grafana's
    per-panel refresh)."""
    register_views(spark, sf_dir)
    return {name: spark.sql(sql) for name, sql in DASHBOARD_PANELS.items()}


# Materialized dashboard: the pre-computed panel set a 100 TB serving
# layer actually reads (firing the aggregation per Grafana refresh
# stops making sense once the fact table needs a cluster scan).
DASHBOARD_TS_PANELS = (
    "ts_daily_peak_hours",
    "ts_day_over_day_change",
    "ts_rolling_zscore_anomalies",
    "ts_load_duration_curve",
    "ts_peak_offpeak_profile",
    "ts_holt_forecast",
)


def publish_dashboard_snapshot(
    spark: SparkSession, sf_dir: str, root: str, compare_and_swap=None
) -> dict:
    """Materialize every dashboard analytics panel into ONE manifest
    commit group: all panels stage invisibly, a single pointer flip
    publishes them together, so a dashboard reader NEVER sees a
    peak-hours panel from one refresh next to an anomaly panel from
    another (the cross-panel consistency Grafana-over-Postgres gets
    from snapshot reads, rebuilt on files). A crash anywhere before
    the flip publishes nothing; old versions stay readable (time
    travel) so an incident review can pin the dashboard exactly as it
    looked. Returns the committed manifest."""
    from ..plans.catalog import CATALOG
    from ..sinks import manifest_table

    # Each panel reads its own COLUMN-PRUNED scan of the fact (all
    # five prune to ts/event_type/value — a fifth or less of the
    # table's bytes). Five pruned scans beat the alternatives at the
    # scale this function exists for: caching the fact would
    # materialize it FULL-WIDTH (cache substitution happens on the
    # analyzed plan, before column pruning) — strictly more I/O than
    # the five scans combined — and deriving panels from a shared
    # rollup here would fork the panel logic from the oracle-pinned
    # catalog definitions. A serving deployment that refreshes hot
    # would stage the shared hourly rollup as its own manifest table
    # and re-point the panel queries at it.
    frames = {
        name: CATALOG[name][0](spark, sf_dir)
        for name in DASHBOARD_TS_PANELS
    }
    return manifest_table.group_overwrite(
        frames, root, compare_and_swap=compare_and_swap
    )


def read_dashboard_panel(
    spark: SparkSession, root: str, panel: str, version: int | None = None
) -> DataFrame | None:
    """Snapshot-isolated read of one published panel (optionally of a
    historical dashboard version)."""
    from ..sinks import manifest_table

    return manifest_table.group_read(spark, root, panel, version)


# --- incremental refresh -------------------------------------------------
# The full publish re-scans the fact table five times per tick; at
# 100 TB a dashboard refresh must touch only the NEW day partitions.
# The incremental variant maintains ONE per-(event_type, day, hour)
# rollup sub-table in the same commit group: the events scan is
# day-pruned to days >= the published watermark minus a rework horizon
# (the reference's "re-fetch the incomplete last day" policy,
# daily_pv_automation.py:74-126), older rollup rows are KEPT (K4
# date-range-overwrite semantics), and every panel derives from the
# merged rollup — a calendar-bounded |days|x24x|types| frame, so the
# panel math is flat no matter the fact volume. One pointer flip
# publishes rollup + all five panels together (both-or-neither, same
# crash semantics as the full publish); a replayed refresh converges
# to the identical snapshot.
ROLLUP_SUB = "hourly_rollup"


def _panels_from_rollup(rollup: DataFrame) -> dict[str, DataFrame]:
    """Derive every DASHBOARD_TS_PANELS frame from the hourly rollup,
    replicating the catalog definitions' column names, rounding points
    and tie-breaks (the equivalence is pinned by
    tests/test_jobs.py::test_incremental_refresh_matches_full_recompute
    — raw-vs-hourly summation reassociation sits below the panels'
    rnd() grain)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.rounding import rnd
    from ..plans.catalog_timeseries import LDC_PCTS

    hourly = rollup.select("event_type", "day", "hour", "hour_total")
    w_peak = Window.partitionBy("event_type", "day").orderBy(
        F.col("hour_total").desc(), F.col("hour").asc()
    )
    peak = (
        hourly.withColumn("_rn", F.row_number().over(w_peak))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            "day",
            F.col("hour").alias("peak_hour"),
            F.col("hour_total").alias("peak_total"),
        )
    )
    daily = rollup.groupBy("event_type", "day").agg(
        rnd(F.sum("hour_total_raw"), 4).alias("day_total")
    )
    w_ord = Window.partitionBy("event_type").orderBy("day")
    prev_day = F.lag("day").over(w_ord)
    prev_total = F.lag("day_total").over(w_ord)
    dod = daily.select(
        "event_type",
        "day",
        "day_total",
        prev_day.alias("prev_day"),
        prev_total.alias("prev_total"),
        rnd(F.col("day_total") - prev_total, 4).alias("delta"),
        F.when(
            prev_total != 0.0,
            rnd(100.0 * (F.col("day_total") - prev_total) / prev_total, 4),
        ).alias("pct_change"),
    )
    idx = F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
    w_z = Window.partitionBy("event_type").orderBy(idx).rangeBetween(-14, -1)
    n = F.count("day_total").over(w_z)
    s = F.sum("day_total").over(w_z)
    ss = F.sum(F.col("day_total") * F.col("day_total")).over(w_z)
    scored = daily.select(
        "event_type",
        "day",
        "day_total",
        n.cast("bigint").alias("n_baseline"),
        rnd(s / n, 6).alias("baseline_mean"),
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
        (F.col("day_total") - F.col("baseline_mean")) / F.col("baseline_sd"),
        4,
    )
    zscore = scored.select(
        "event_type",
        "day",
        "day_total",
        "n_baseline",
        "baseline_mean",
        "baseline_sd",
        z.alias("zscore"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )
    ldc = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        *[
            rnd(F.percentile("hour_total", p), 4).alias(
                f"p{int(round(p * 100)):03d}"
            )
            for p in LDC_PCTS
        ],
    )
    po = (
        rollup.withColumn("is_weekend", F.expr("weekday(day)") >= 5)
        .withColumn("is_peak", (F.col("hour") >= 8) & (F.col("hour") < 20))
        .groupBy("event_type", "is_weekend", "is_peak")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            rnd(F.sum("hour_total_raw"), 4).alias("total_value"),
        )
        .withColumn(
            "avg_value", rnd(F.col("total_value") / F.col("n_events"), 4)
        )
    )
    # the Holt forecast folds the SAME 4-rounded daily totals the
    # catalog query rounds from raw events (raw-vs-hourly summation
    # reassociation sits below the rnd(4) grain, so the recurrence
    # sees identical inputs either way)
    from ..plans.catalog_timeseries import holt_from_daily

    return {
        "ts_daily_peak_hours": peak,
        "ts_day_over_day_change": dod,
        "ts_rolling_zscore_anomalies": zscore,
        "ts_load_duration_curve": ldc,
        "ts_peak_offpeak_profile": po,
        "ts_holt_forecast": holt_from_daily(daily),
    }


def refresh_dashboard_incremental(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    rework_days: int = 1,
    compare_and_swap=None,
) -> dict:
    """Incremental dashboard refresh: day-pruned events scan → merged
    hourly rollup → all five panels → ONE group commit (see the module
    section comment for the 100 TB shape). ``rework_days`` is the
    recompute horizon counted back from the published watermark day
    (>=1: the watermark day itself is always recomputed — it may have
    been incomplete at the previous tick). First call on an empty root
    publishes the full snapshot through the same path. Returns the
    committed manifest.

    CONTRACT (the price of the pruned scan): events landing in a day
    OLDER than ``watermark - rework_days + 1`` are invisible to this
    refresh — the day-pruned scan never reads those partitions, which
    is exactly what makes the tick cheap at 100 TB. Late arrivals
    beyond the horizon go through a backfill: one call with
    ``rework_days`` covering the late day, or a full re-publish via
    ``publish_dashboard_snapshot`` — both converge to the same
    snapshot (pinned by the equivalence test)."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from ..functions.rounding import rnd
    from ..sinks import manifest_table
    from ..sources import load_table

    if rework_days < 1:
        raise ValueError("rework_days must be >= 1")
    ev = load_table(spark, sf_dir, "events")
    prev = None
    if manifest_table.read_manifest(root) is not None:
        prev = manifest_table.group_read(spark, root, ROLLUP_SUB)
    cutoff = None
    if prev is not None:
        wm_row = prev.agg(F.max("day").alias("wm")).collect()[0]  # 1 row
        if wm_row["wm"] is not None:
            import datetime as _dt

            cutoff = wm_row["wm"] - _dt.timedelta(days=rework_days - 1)
    if cutoff is not None:
        # day-pruned fact scan: the ONLY event-volume work per tick
        ev = ev.filter(
            F.col("ts") >= F.lit(cutoff.isoformat()).cast("timestamp_ntz")
        )
    delta = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.sum("value").alias("hour_total_raw"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    ).withColumn("hour_total", rnd(F.col("hour_total_raw"), 4))
    if prev is not None and cutoff is not None:
        kept = prev.filter(F.col("day") < F.lit(cutoff.isoformat()))
        rollup = kept.unionByName(delta.select(*prev.columns))
    else:
        rollup = delta
    # ONE partition: the rollup is |days|x24x|types| rows by design, but
    # left alone it keeps a partition per input file (the kept rollup
    # files plus the delta's), and every panel stage then fans out that
    # many tasks — a count that grows with each tick's new sink file.
    # The coalesce is narrow, so it stops at the delta aggregation's
    # exchange and the events scan below it stays parallel.
    rollup = rollup.coalesce(1).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        frames = {ROLLUP_SUB: rollup, **_panels_from_rollup(rollup)}
        return manifest_table.group_overwrite(
            frames, root, compare_and_swap=compare_and_swap
        )
    finally:
        rollup.unpersist(blocking=False)
