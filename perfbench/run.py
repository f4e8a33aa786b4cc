"""Repository benchmark: end-to-end and per-layer metrics of the engine's
user-facing paths, driven through its public functions.

    python3 perfbench/run.py --workload dashboard_serve --seed 1 --seconds 20 --trace 0

Workloads (closed loop, one client thread, ``local[nproc]`` through the
program's own ``session.get_spark``):

- ``dashboard_serve``: warm catalog invocations (plan-memo hits) over a
  fixed subset of the non-corpus entries, in a seeded order per pass.
- ``ingest_tick``: cron ticks landing one seeded day each and running the
  PV, weather, streaming-ingest and dashboard-refresh jobs.
- ``corpus_cold``: first invocations of corpus-family entries, each pass on
  a fresh snapshot copy. Not listed in BENCHMARK.json: its cold passes do
  not fit the benchmark's per-run time budget beside the other two.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (every other pass or tick traced; the difference is reported as the
tracing overhead). The last stdout line is the result JSON; the line
before it is a detail record (seed, host noise, tail percentile, failures),
also saved under ``.bench_build/perfbench/results``. The first run in a
checkout builds the seeded snapshot and the oracle cache there.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def declared_metrics(trace: bool) -> dict[str, str]:
    """The metrics ``BENCHMARK.json`` names for this mode, with units."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("dashboard_serve", "ingest_tick", "corpus_cold"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="snapshot scale (0.1 for the benchmark, 0.001 for the smoke run)")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _args(argv)
    try:
        import energy_data_pipeline_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})", file=sys.stderr)
        return 2

    import catalog
    import harness
    import ingest
    import snapshot

    run = harness.Run(
        root=ROOT,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        sf=args.sf,
        t_start=_T_START,
    )
    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    names = {
        "dashboard_serve": catalog.DASHBOARD_ENTRIES,
        "corpus_cold": catalog.CORPUS_ENTRIES,
        "ingest_tick": (),
    }[run.workload]
    t0 = time.perf_counter()
    snap, oracles = snapshot.build(ROOT, run.build_dir, run.sf, list(names))
    run.build_s = time.perf_counter() - t0

    shutil.rmtree(run.work_dir, ignore_errors=True)
    harness.prepare_environment(run, cpus)
    spark, start_s = harness.start_session(run)
    try:
        # the per-table scans feed per-layer metrics only, so untraced runs
        # skip them and their warm-up pass absorbs that first-use cost
        scans = {}
        if run.trace:
            tables = ("events",) if run.workload == "ingest_tick" else None
            scans = harness.scan_tables(spark, snap, tables)
        t0 = time.perf_counter()
        calib_start = harness.calibration(spark, cpus)
        calib_s = time.perf_counter() - t0
        if run.workload == "dashboard_serve":
            res = catalog.run_dashboard_serve(run, spark, snap, oracles, cpus)
        elif run.workload == "corpus_cold":
            res = catalog.run_corpus_cold(run, spark, snap, oracles, cpus)
        else:
            res = ingest.run_ingest_tick(run, spark, snap, cpus)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(run.work_dir, ignore_errors=True)

    lat = harness.latency_summary(res["latencies"])
    e2e = {
        "setup_s": res["setup_s"],
        "op_p50_s": lat["p50"],
        "op_tail_s": lat["tail"],
        "ops_per_s": len(res["latencies"]) / res["measured_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "retained_mb": res["retained_mb"],
    }
    declared = declared_metrics(run.trace)
    if run.trace:
        layers = {
            "session.start_s": start_s,
            "sources.scan_s": sum(scans.values()),
            **{f"sources.scan_s.{t}": s for t, s in scans.items()},
            **res["layers"],
        }
        # a layer this workload does not exercise reports 0
        values = {**dict.fromkeys(declared, 0.0), **layers}
    else:
        values = e2e
    metrics = {k: {"value": values[k], "unit": u} for k, u in declared.items()}

    detail = {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": run.trace,
        "sf": run.sf,
        "nproc": cpus,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "calibration_start_s": calib_start,
        "build_s": run.build_s,
        "setup_parts_s": {
            "session": start_s,
            "table_scans": sum(scans.values()),
            "calibration": calib_s,
            "imports_and_workload_warmup": res["setup_s"] - start_s - sum(scans.values()) - calib_s,
        },
        "ops": lat["n"],
        "tail_percentile": lat["tail_percentile"],
        "tail_samples_beyond": lat["tail_samples_beyond"],
        "end_to_end": {**e2e, "failed_ratio": len(run.failures) / max(run.attempted, 1)},
        "layers": layers if run.trace else {},
        "layers_not_exercised": sorted(set(declared) - set(layers)) if run.trace else [],
        "self_times_s": res["tracer"].self_times(),
        "failures": run.failures[:20],
    }
    results = os.path.join(run.build_dir, "results")
    stem = f"{run.workload}-seed{run.seed}-trace{int(run.trace)}-{os.getpid()}"
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{stem}.json"), "w", encoding="utf-8") as f:
        json.dump(detail, f, indent=1)
    if run.trace:
        res["tracer"].write(os.path.join(results, f"{stem}-spans.json"))
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": max(run.attempted, 1),
                "failed": len(run.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
