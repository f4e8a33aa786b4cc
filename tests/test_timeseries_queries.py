

def test_seasonality_strength_degenerate_slice_is_null_both_engines(
    spark, tmp_path
):
    """An event type with a SINGLE hourly row has no variance to
    explain: both engines must emit NULL (not raise / inf) — the
    unguarded (n-1) division is a cross-engine parity break."""
    import datetime as dt

    from energy_data_pipeline_spark.plans.catalog_timeseries import (
        SEASONALITY_SQL,
        seasonality_strength,
    )

    from .oracle_harness import compare, duck_connection

    rows = [
        # 'lonely' — one single hourly bucket → n_t = 1 → NULL
        (1, dt.datetime(2024, 1, 1, 3, 15), 10, "lonely", 5.0),
        # 'steady' — several hours so the normal path still computes
        (2, dt.datetime(2024, 1, 1, 1, 0), 11, "steady", 1.0),
        (3, dt.datetime(2024, 1, 1, 2, 0), 11, "steady", 4.0),
        (4, dt.datetime(2024, 1, 2, 1, 0), 11, "steady", 2.0),
        (5, dt.datetime(2024, 1, 2, 2, 0), 11, "steady", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double"
    )
    # plain single-file parquet (pyarrow), matching the driver's
    # testdata layout — DuckDB reads `<name>.parquet` as a FILE
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path / "sf_degenerate")
    os.makedirs(sf)
    table = pa.Table.from_pandas(df.toPandas())
    for name in (
        "events region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        # only events is queried; the rest are view-registration stubs
        pq.write_table(table, f"{sf}/{name}.parquet")

    out = {
        r["event_type"]: r["seasonality_strength"]
        for r in seasonality_strength(spark, sf).collect()
    }
    assert out["lonely"] is None
    assert out["steady"] is not None

    con = duck_connection(sf)
    try:
        report = compare(seasonality_strength(spark, sf), con, SEASONALITY_SQL)
        assert report["ok"], report["issues"]
    finally:
        con.close()


def test_holt_forecast_recurrence_and_horizons(spark, sf_small):
    from energy_data_pipeline_spark.plans.catalog_timeseries import (
        _HOLT_ALPHA,
        _HOLT_BETA,
        _HOLT_HORIZONS,
        holt_forecast,
    )

    rows = holt_forecast(spark, sf_small).collect()
    types = (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .select("event_type")
        .distinct()
        .count()
    )
    assert len(rows) == types
    for r in rows:
        assert r["n_days"] >= 2
        # forecasts extrapolate linearly from (level, trend); fc is
        # computed from the UNROUNDED state, so allow h*rounding slack
        for h in _HOLT_HORIZONS:
            assert (
                abs(r[f"fc_{h}"] - round(r["level"] + h * r["trend"], 4))
                <= (h + 1) * 1e-4
            )
    # reproduce one series by hand
    import collections

    daily = collections.defaultdict(dict)
    for e in (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .groupBy(
            "event_type",
            __import__("pyspark.sql.functions", fromlist=["x"]).to_date(
                "ts"
            ).alias("day"),
        )
        .agg(
            __import__(
                "energy_data_pipeline_spark.functions.rounding",
                fromlist=["rnd"],
            ).rnd(
                __import__(
                    "pyspark.sql.functions", fromlist=["x"]
                ).sum("value"),
                4,
            ).alias("t")
        )
        .collect()
    ):
        daily[e["event_type"]][e["day"]] = e["t"]
    et = rows[0]["event_type"]
    ys = [daily[et][d] for d in sorted(daily[et])]
    level, b = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        nl = _HOLT_ALPHA * y + (1 - _HOLT_ALPHA) * (level + b)
        b = _HOLT_BETA * (nl - level) + (1 - _HOLT_BETA) * b
        level = nl
    assert rows[0]["level"] == round(level, 4)
    assert rows[0]["trend"] == round(b, 4)


def test_holt_forecast_one_day_series_both_engines(spark, tmp_path):
    """An event type seen on a single day has no y2: both engines must
    define it as level=y1, trend=0, fc=y1 instead of aborting the whole
    panel, while multi-day types keep the usual recurrence."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from energy_data_pipeline_spark.plans.catalog_timeseries import (
        _holt_oracle,
        holt_forecast,
    )

    from .oracle_harness import compare, duck_connection

    rows = [
        (1, dt.datetime(2024, 1, 1, 12, 0), 10, "lonely", 5.0),
        (2, dt.datetime(2024, 1, 1, 9, 0), 11, "steady", 1.0),
        (3, dt.datetime(2024, 1, 2, 9, 0), 11, "steady", 4.0),
        (4, dt.datetime(2024, 1, 3, 9, 0), 11, "steady", 2.5),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double"
    )
    sf = str(tmp_path / "sf_one_day")
    os.makedirs(sf)
    table = pa.Table.from_pandas(df.toPandas())
    for name in (
        "events region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        # only events is queried; the rest are view-registration stubs
        pq.write_table(table, f"{sf}/{name}.parquet")

    out = {r["event_type"]: r for r in holt_forecast(spark, sf).collect()}
    lonely = out["lonely"]
    assert (lonely["n_days"], lonely["level"], lonely["trend"]) == (1, 5.0, 0.0)
    assert lonely["fc_1"] == lonely["fc_3"] == lonely["fc_7"] == 5.0
    assert out["steady"]["n_days"] == 3

    con = duck_connection(sf)
    try:
        report = compare(holt_forecast(spark, sf), con, _holt_oracle(sf))
        assert report["ok"], report["issues"]
    finally:
        con.close()


def test_top_paths_compose_on_session_labels(spark, sf_small):
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.operators.gaps import (
        sessionize,
        sessionize_events,
    )
    from energy_data_pipeline_spark.plans.catalog_timeseries import (
        _PATH_TOPK,
        top_event_paths,
    )

    rows = top_event_paths(spark, sf_small).collect()
    assert 0 < len(rows) <= _PATH_TOPK
    ns = [r["n_occurrences"] for r in rows]
    assert ns == sorted(ns, reverse=True)
    types = {
        r["event_type"]
        for r in spark.read.parquet(f"{sf_small}/events.parquet")
        .select("event_type")
        .distinct()
        .collect()
    }
    for r in rows:
        steps = r["path"].split(">")
        assert len(steps) == 3 and all(s in types for s in steps)
        assert 1 <= r["n_sessions"] <= r["n_occurrences"]
    # the per-event labeling is the exact rollup-free half of
    # sessionize: grouping it reproduces the session table
    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    lab = (
        sessionize_events(ev, "ts", ["user_id"])
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    base = sessionize(ev, "ts", ["user_id"])
    assert sorted(map(tuple, lab.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_holt_winters_seasonality_and_extrapolation(spark, sf_small):
    from energy_data_pipeline_spark.plans.catalog_timeseries import (
        _HOLT_HORIZONS,
        _HW_PERIOD,
        holt_forecast,
        holt_winters_forecast,
    )

    rows = {r["event_type"]: r for r in holt_winters_forecast(spark, sf_small).collect()}
    plain = {r["event_type"]: r for r in holt_forecast(spark, sf_small).collect()}
    assert rows
    for et, r in rows.items():
        assert r["n_days"] >= 2 * _HW_PERIOD
        # seasonal forecasts differ across horizons by more than the
        # pure linear extrapolation would allow iff seasonality is
        # non-degenerate: fc_h - (level + h*trend) is the seasonal
        # term, bounded by the series' own scale
        for h in _HOLT_HORIZONS:
            seasonal = r[f"fc_{h}"] - (r["level"] + h * r["trend"])
            assert abs(seasonal) < abs(r["level"]) + 1e4
        # same series length as the plain Holt view
        assert plain[et]["n_days"] == r["n_days"]
    # at least one type shows a measurable seasonal adjustment
    assert any(
        abs(r["fc_1"] - (r["level"] + 1 * r["trend"])) > 1e-3
        for r in rows.values()
    )
