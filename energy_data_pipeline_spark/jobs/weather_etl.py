"""Daily weather ETL job — the reference's flow 3.2
(prefect_flows/prefect_pipeline.py:115-164): collect → impute → persist →
accumulate-merge.

The 43-station HTTP fan-out (S6) lands as ``raw_df`` here; the job runs
the impute pipeline (T2/T3/T4 via operators/impute.py) and merges into
the accumulating table with keep-last semantics (T8/K5)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..operators.impute import impute_missing_values, impute_stats
from ..sinks.writers import upsert


def weather_etl_job(
    raw_df: DataFrame,
    table_path: str,
    value_cols: Sequence[str] = ("ta", "hm"),
    ts_col: str = "tm",
    station_col: str = "station_name",
    short_gap_max: int = 3,
) -> dict:
    """Impute missing values then upsert into the accumulating table
    keyed on (station, timestamp) — new data wins, matching
    merge_to_all.py's keep-last dedup.

    The imputed batch is materialized ONCE (eager local checkpoint):
    the upsert reads it twice (anti-join key set and union) and the
    after-stats once more, and each read would otherwise re-run the
    spline ``applyInPandas``. A lost checkpoint block fails the job
    loudly rather than answering wrong, and re-running the job is safe
    because the K5 upsert is idempotent on (station, timestamp)."""
    before_row = impute_stats(raw_df, list(value_cols)).collect()[0]
    before = {f"{c}_nulls_before": before_row[f"{c}_nulls"] for c in value_cols}
    imputed = impute_missing_values(
        raw_df,
        ts_col=ts_col,
        value_cols=list(value_cols),
        keys=[station_col],
        short_gap_max=short_gap_max,
    ).localCheckpoint(eager=True)
    n = upsert(
        imputed.sparkSession,
        imputed,
        table_path,
        keys=[station_col, ts_col],
    )
    # after-stats on the SAME batch the before-stats measured, so the
    # pair is comparable (the accumulated table may hold older nulls)
    after_row = impute_stats(imputed, list(value_cols)).collect()[0]
    stats = {"rows_in_table": n}
    stats.update(before)
    for c in value_cols:
        stats[f"{c}_nulls_after"] = after_row[f"{c}_nulls"]
    return stats
