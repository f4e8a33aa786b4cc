"""``ingest_tick``: the cron tick that takes one landed day to a published
dashboard.

Each tick lands a new day of seeded inputs (PV wide rows served by a
benchmark-owned fetcher, 43 stations x 24 h of weather with null gaps,
about 3.3k events of the five event types), then runs
``daily_pv_job`` -> ``weather_etl_job`` -> ``available_now_ingest`` ->
``refresh_dashboard_incremental``. One op is one tick, timed from landed
to dashboard committed. State starts from the snapshot's 30-day event
history and grows tick over tick.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import harness
import snapshot

PV_PLANTS = 20
PV_UNITS_PER_PLANT = 5
STATIONS = 43
PV_SCHEMA = ", ".join(
    ["ymd string", "gencd string", "hogi int", "plant_name string"]
    + [f"qhorgen{h:02d} string" for h in range(1, 25)]
)
PLANT_NAMES = {f"G{p:03d}": f"plant-{p:03d}" for p in range(PV_PLANTS)}


def pv_payload(task: dict, seed: int) -> list[dict]:
    """The PV API's answer for one (day, plant, unit): 24 hourly readings
    as strings, a few missing, some plant names absent. Deterministic in
    (seed, task); runs inside the Python workers."""
    rng = random.Random(f"{seed}:{task['ymd']}:{task['gencd']}:{task['hogi']}")
    cap = 50.0 + 10.0 * int(task["hogi"])
    row = {
        "ymd": task["ymd"],
        "gencd": task["gencd"],
        "hogi": int(task["hogi"]),
        "plant_name": "None" if rng.random() < 0.3 else PLANT_NAMES[task["gencd"]],
    }
    for h in range(1, 25):
        sun = max(0.0, -np.cos((h - 1) / 24.0 * 2.0 * np.pi))
        row[f"qhorgen{h:02d}"] = (
            None if rng.random() < 0.03 else f"{cap * sun * rng.uniform(0.6, 1.0):.1f}"
        )
    return [row]


def _fetcher(seed: int):
    def fetch(task: dict) -> list[dict]:
        return pv_payload(task, seed)

    return fetch


def _pv_tasks(day: dt.date) -> list[dict]:
    ymd = day.strftime("%Y%m%d")
    return [
        {"ymd": ymd, "gencd": f"G{p:03d}", "hogi": u}
        for p in range(PV_PLANTS)
        for u in range(1, PV_UNITS_PER_PLANT + 1)
    ]


def _weather_day(rng: np.random.Generator, day: dt.date) -> pd.DataFrame:
    """43 stations x 24 h; each station gets up to two interior null gaps
    of 1-3 hours (the short gaps the spline fills)."""
    hours = np.arange(24)
    frames = []
    base = dt.datetime.combine(day, dt.time())
    for s in range(STATIONS):
        ta = 10.0 + 5.0 * np.sin(hours / 24.0 * 2 * np.pi) + rng.normal(0, 0.5, 24)
        hm = 60.0 + 10.0 * np.cos(hours / 24.0 * 2 * np.pi) + rng.normal(0, 1.0, 24)
        mask = np.zeros(24, dtype=bool)
        for _ in range(int(rng.integers(0, 3))):
            start = int(rng.integers(2, 19))
            mask[start : start + int(rng.integers(1, 4))] = True
        frames.append(
            pd.DataFrame(
                {
                    "station_name": f"stn{s:02d}",
                    "tm": [base + dt.timedelta(hours=int(h)) for h in hours],
                    "ta": np.where(mask, np.nan, np.round(ta, 1)),
                    "hm": np.where(mask, np.nan, np.round(hm, 1)),
                }
            )
        )
    out = pd.concat(frames, ignore_index=True)
    out["tm"] = out["tm"].astype("datetime64[us]")
    return out


def _write(frame: pd.DataFrame, path: str) -> int:
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
    return os.path.getsize(path)


def _file_state(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _is_data(path: str) -> bool:
    return path.endswith(".parquet") and not os.path.basename(path).startswith(".")


class _StreamListener:
    """Collects micro-batch progress of every streaming query (traced
    runs only); built lazily so importing this module starts nothing."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        batches: list[tuple[float, int]] = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches.append((p.batchDuration / 1000.0, p.numInputRows))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.batches = batches
        self._listener = Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def drain(self) -> list[tuple[float, int]]:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out = list(self.batches)
        self.batches.clear()
        return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


class IngestState:
    """Directories of one run's pipeline and the day-by-day landing."""

    def __init__(self, run: harness.Run, snap: str):
        from pyspark import cloudpickle

        # the fetcher runs in Python workers, which cannot import this file
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        base = os.path.join(run.work_dir, "ingest")
        self.run = run
        self.landing = os.path.join(base, "landing", "events")
        self.inbox = os.path.join(base, "landing", "inbox")
        self.snap = os.path.join(base, "snap")
        self.sink = os.path.join(self.snap, "events.parquet")
        self.ckpt = os.path.join(base, "checkpoint")
        self.pv = os.path.join(base, "tables", "pv_generation")
        self.weather = os.path.join(base, "tables", "weather_all")
        self.dash = os.path.join(base, "tables", "dashboard")
        self.tables = os.path.join(base, "tables")
        for d in (self.landing, self.inbox, self.snap, self.tables):
            os.makedirs(d, exist_ok=True)
        history = pq.read_table(
            os.path.join(snap, "events.parquet"),
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        )
        pq.write_table(history, os.path.join(self.landing, "day-000.parquet"))
        self.events_landed = history.num_rows
        self.next_event_id = int(pc.max(history["event_id"]).as_py()) + 1
        self.day_index = 0
        self.days: list[dt.date] = []
        self.weather_rows = 0

    def land(self) -> dict:
        """Land the next day's three inputs; return what the tick consumes."""
        self.day_index += 1
        day = (snapshot.EVENT_START + dt.timedelta(days=snapshot.EVENT_DAYS - 1 + self.day_index)).date()
        rng = np.random.default_rng([self.run.seed, self.day_index])
        n = int(rng.integers(3200, 3400))
        events = snapshot.event_frame(rng, n, dt.datetime.combine(day, dt.time()), 1, self.next_event_id)
        self.next_event_id += n
        self.events_landed += n
        landed = _write(events, os.path.join(self.landing, f"day-{self.day_index:03d}.parquet"))
        weather_path = os.path.join(self.inbox, f"weather-{self.day_index:03d}.parquet")
        landed += _write(_weather_day(rng, day), weather_path)
        tasks = _pv_tasks(day)
        payload = pd.DataFrame([r for t in tasks for r in pv_payload(t, self.run.seed)])
        landed += _write(payload, os.path.join(self.inbox, f"pv-{self.day_index:03d}.parquet"))
        self.days.append(day)
        self.weather_rows += STATIONS * 24
        return {"tasks": tasks, "weather_path": weather_path, "landed_bytes": landed}

    def sink_counts(self, before: dict, after: dict, landed_bytes: int) -> dict:
        changed = [p for p, v in after.items() if before.get(p) != v and _is_data(p)]
        written = sum(after[p][0] for p in changed)
        return {
            "files_written": len(changed),
            "bytes_written": written,
            "write_amp": written / landed_bytes,
            "live_files": self.live_files(),
        }

    def live_files(self) -> int:
        from energy_data_pipeline_spark.sinks import manifest_table

        n = 0
        for table in (self.pv, self.weather, self.sink):
            for _d, _dirs, files in os.walk(table):
                n += sum(1 for f in files if _is_data(f))
        m = manifest_table.read_manifest(self.dash)
        if m is not None:
            n += sum(len(files) for files in m["tables"].values())
        return n


def _tick(spark, state: IngestState, inputs: dict, tracer: harness.Tracer, op: str) -> None:
    from energy_data_pipeline_spark.jobs.analytics import refresh_dashboard_incremental
    from energy_data_pipeline_spark.jobs.pv_ingest import daily_pv_job
    from energy_data_pipeline_spark.jobs.weather_etl import weather_etl_job
    from energy_data_pipeline_spark.sources.rest import run_fetch
    from energy_data_pipeline_spark.streaming.incremental import (
        available_now_ingest,
        read_event_stream,
    )

    with tracer.span("jobs.pv_load", op, f"{op}:pv"):
        tasks = spark.createDataFrame(pd.DataFrame(inputs["tasks"]))
        wide = run_fetch(tasks, _fetcher(state.run.seed), PV_SCHEMA)
        daily_pv_job(wide, state.pv, PLANT_NAMES)
    with tracer.span("jobs.weather_etl", op, f"{op}:weather"):
        weather_etl_job(spark.read.parquet(inputs["weather_path"]), state.weather)
    with tracer.span("streaming.ingest", op):
        available_now_ingest(read_event_stream(spark, state.landing), state.sink, state.ckpt)
    with tracer.span("jobs.dashboard_refresh", op, f"{op}:dash"):
        refresh_dashboard_incremental(spark, state.snap, state.dash)


def _verify(spark, run: harness.Run, state: IngestState) -> None:
    """End-of-run checks of every sink; each mismatch counts as failed."""
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.jobs.analytics import (
        DASHBOARD_TS_PANELS,
        read_dashboard_panel,
    )
    from energy_data_pipeline_spark.plans.catalog import CATALOG

    def check(ok: bool, what: str) -> None:
        run.attempted += 1
        if not ok:
            run.fail(what)

    pv = spark.read.parquet(state.pv)
    per_unit_day = pv.groupBy("gencd", "hogi", F.to_date("datetime").alias("d")).count()
    counts = {r["count"] for r in per_unit_day.select("count").distinct().collect()}
    check(counts == {24}, f"pv rows per plant-day {sorted(counts)} != [24]")
    expected_units = PV_PLANTS * PV_UNITS_PER_PLANT * len(state.days)
    check(per_unit_day.count() == expected_units, "pv plant-days missing")
    w = spark.read.parquet(state.weather)
    dup = w.groupBy("station_name", "tm").count().filter("count > 1").count()
    nulls = w.filter(F.col("ta").isNull() | F.col("hm").isNull()).count()
    check(dup == 0, f"weather: {dup} duplicate (station, tm) keys")
    check(nulls == 0, f"weather: {nulls} rows with nulls after imputation")
    check(w.count() == state.weather_rows, "weather row count")
    sunk = spark.read.parquet(state.sink).count()
    check(sunk == state.events_landed, f"event sink {sunk} rows != {state.events_landed} landed")
    for panel in DASHBOARD_TS_PANELS:
        got = {tuple(r) for r in read_dashboard_panel(spark, state.dash, panel).collect()}
        want = {tuple(r) for r in CATALOG[panel][0](spark, state.snap).collect()}
        check(got == want, f"panel {panel}: incremental != full recompute")


def run_ingest_tick(run: harness.Run, spark, snap: str, cpus: int) -> dict:
    from energy_data_pipeline_spark.jobs.analytics import refresh_dashboard_incremental
    from energy_data_pipeline_spark.streaming.incremental import (
        available_now_ingest,
        read_event_stream,
    )

    state = IngestState(run, snap)
    # publish the history's dashboard first, so the warm-up tick takes the
    # same incremental-refresh path as the measured ticks and pays its
    # first-use class loading and codegen
    available_now_ingest(read_event_stream(spark, state.landing), state.sink, state.ckpt)
    refresh_dashboard_incremental(spark, state.snap, state.dash)
    tracer = harness.Tracer(spark, run.trace)
    listener = _StreamListener(spark) if run.trace else None
    _tick(spark, state, state.land(), harness.Tracer(spark, False), "warmup")
    if listener is not None:
        listener.drain()

    lat: list[float] = []
    traced_lat: list[float] = []
    records: list[dict] = []
    setup_s = run.setup_elapsed()
    units = None
    with harness.RssSampler() as rss:
        while units is None or len(lat) + len(traced_lat) < units:
            inputs = state.land()
            traced = run.trace and (len(lat) + len(traced_lat)) % 2 == 1
            t = tracer if traced else harness.Tracer(spark, False)
            op = f"tick{state.day_index}"
            rec: dict = {"op": op, "traced": traced}
            if traced:
                # the run_fetch Python boundary alone, forced once before the tick
                from energy_data_pipeline_spark.sources.rest import run_fetch

                t0 = time.perf_counter()
                run_fetch(
                    spark.createDataFrame(pd.DataFrame(inputs["tasks"])),
                    _fetcher(run.seed),
                    PV_SCHEMA,
                ).write.format("noop").mode("overwrite").save()
                rec["fetch_s"] = time.perf_counter() - t0
                listener.drain()  # drop the untraced ticks' batches
            before = _file_state(state.tables)
            before.update(_file_state(state.snap))
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with t.span("tick", op):
                    _tick(spark, state, inputs, t, op)
            except Exception as exc:  # a failed tick is counted, not fatal
                run.fail(f"{op}: {type(exc).__name__}: {exc}")
            dt_s = time.perf_counter() - t0
            (traced_lat if traced else lat).append(dt_s)
            after = _file_state(state.tables)
            after.update(_file_state(state.snap))
            rec.update(state.sink_counts(before, after, inputs["landed_bytes"]))
            rec["latency_s"] = dt_s
            if traced:
                for name in ("pv", "weather", "dash"):
                    rec[name] = tracer.group_counts(f"{op}:{name}")
                rec["stream"] = listener.drain()
            records.append(rec)
            if units is None:
                units = harness.planned_units(run.seconds, dt_s, 2)
    retained = harness.retained_mb(spark)
    _verify(spark, run, state)
    if listener is not None:
        listener.close()
    ops = lat or traced_lat
    return {
        "setup_s": setup_s,
        "latencies": ops,
        "measured_s": sum(ops),
        "peak_rss_mb": rss.peak_mb,
        "retained_mb": retained,
        "layers": _layers(tracer, records, lat, traced_lat, cpus) if run.trace else {},
        "tracer": tracer,
    }


def _layers(tracer, records, lat, traced_lat, cpus) -> dict:
    traced = [r for r in records if r["traced"]]
    spans = [s for s in tracer.spans if s["name"] != "tick"]

    def span_mean(name: str) -> float:
        return harness.mean([s["end"] - s["start"] for s in spans if s["name"] == name])

    stages = tasks = task_s = 0.0
    for r in traced:
        for g in ("pv", "weather", "dash"):
            stages += r[g]["stages"]
            tasks += r[g]["tasks"]
            task_s += r[g]["task_s"]
    n = max(len(traced), 1)
    job_wall = sum(
        span_mean(s) for s in ("jobs.pv_load", "jobs.weather_etl", "jobs.dashboard_refresh")
    )
    batches = [b for r in traced for b in r["stream"]]
    untraced_recs = [r for r in records if not r["traced"]] or traced
    return {
        "sources.fetch_s": harness.mean([r["fetch_s"] for r in traced]),
        "jobs.pv_load_s": span_mean("jobs.pv_load"),
        "jobs.weather_etl_s": span_mean("jobs.weather_etl"),
        "jobs.dashboard_refresh_s": span_mean("jobs.dashboard_refresh"),
        "jobs.stages": stages / n,
        "jobs.tasks": tasks / n,
        "jobs.sched_s": job_wall - task_s / n / cpus,
        "streaming.ingest_s": span_mean("streaming.ingest"),
        "streaming.batches": len(batches) / n,
        "streaming.batch_s": harness.mean([b[0] for b in batches]),
        "streaming.input_rows": sum(b[1] for b in batches) / n,
        "sinks.files_written": harness.mean([r["files_written"] for r in untraced_recs]),
        "sinks.bytes_written": harness.mean([r["bytes_written"] for r in untraced_recs]),
        "sinks.write_amp": harness.mean([r["write_amp"] for r in untraced_recs]),
        "sinks.live_files": float(untraced_recs[-1]["live_files"]),
        "trace.overhead_p50_s": harness.latency_summary(traced_lat)["p50"]
        - harness.latency_summary(lat)["p50"],
    }
