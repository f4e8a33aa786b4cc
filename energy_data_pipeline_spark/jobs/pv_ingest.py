"""Daily PV collection job — the reference's flow 3.1
(prefect_flows/nambu_pv_flow.py → daily_pv_automation.py) as one Spark
batch job over an already-landed wide payload table.

Stages (SURVEY.md §3.1 steps 5-6):
  wide→long unpivot (R1) → timestamp build (P8/P10) → coerce casts (P6)
  → plant-name fallback map (P14) → key dedup (O3, explicit order) →
  idempotent day-partition overwrite (K4).

The HTTP fetch stage (S5) is out of engine scope — its output shape is
the ``wide_df`` input here (one row per plant-unit-day, 24 hour
columns), which tests synthesize deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import dedup_keep_first
from ..operators.reshape import long_with_timestamp, unpivot_hours
from ..sinks.writers import overwrite_date_range


def daily_pv_job(
    wide_df: DataFrame,
    table_path: str,
    plant_name_map: dict[str, str] | None = None,
) -> dict:
    """Run the transform+load chain; returns load stats.

    ``wide_df`` columns: ymd (string yyyyMMdd), gencd, hogi, plant_name
    (nullable), qhorgen01..qhorgen24, qvodgen/qvodavg/qvodmax/qvodmin
    (optional daily stats).
    """
    id_cols = [c for c in wide_df.columns if not c.lower().startswith("qhorgen")]
    long = unpivot_hours(
        wide_df,
        id_cols,
        value_col_pattern=r"^qhorgen(\d+)$",
        var_name="hour_label",
        value_name="generation",
    )
    long = long.withColumn("ymd_date", F.to_date("ymd", "yyyyMMdd"))
    long = long_with_timestamp(
        long, "ymd_date", one_based=True, hour24_rollover=False, ts_name="datetime"
    )
    # P6: coerce + default zero for generation (daily_pv_automation.py:175)
    long = long.withColumn("generation", F.coalesce(F.col("generation"), F.lit(0.0)))
    # P14: name fallback via broadcast map (daily_pv_automation.py:181-184)
    if plant_name_map:
        m = F.create_map(*[F.lit(x) for kv in plant_name_map.items() for x in kv])
        long = long.withColumn(
            "plant_name",
            F.coalesce(
                F.when(F.col("plant_name") == "None", None).otherwise(
                    F.col("plant_name")
                ),
                m[F.col("gencd")],
            ),
        )
    final = long.na.drop(subset=["datetime", "gencd", "hogi"]).select(
        "datetime",
        "gencd",
        "hogi",
        "plant_name",
        "generation",
        *[c for c in long.columns if c.startswith("qvod")],
    )
    final = dedup_keep_first(
        final.withColumn("_seq", F.monotonically_increasing_id()),
        keys=["datetime", "gencd", "hogi"],
        order_col="_seq",
    ).drop("_seq")

    # persist: the write + the batch stats would otherwise re-run the
    # whole unpivot/dedup DAG twice; both batch stats come from one pass
    final = final.persist()
    try:
        overwrite_date_range(final, table_path, ts_col="datetime")
        loaded = final.sparkSession.read.parquet(table_path)
        batch = final.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct(F.to_date("datetime")).alias("days"),
        ).collect()[0]
        return {
            "rows_in_batch": batch["rows"],
            "rows_in_table": loaded.count(),
            "days_in_batch": batch["days"],
        }
    finally:
        final.unpersist()
