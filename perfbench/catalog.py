"""Catalog workloads: ``dashboard_serve`` (warm, plan-memo hits) and
``corpus_cold`` (first invocations on a fresh snapshot copy).

One op is one catalog invocation: the ``fn(spark, sf_dir)`` call (the
build span) plus a ``noop`` write (the exec span), as in ``bench.py``.
Outputs are checked outside the timed region against each entry's DuckDB
oracle through ``tests.oracle_harness.compare``.
"""

from __future__ import annotations

import random
import re
import shutil
import time

import harness
from snapshot import CachedOracle

# Fixed, name-selected subsets that keep every prefix of each family, fit
# a run in the benchmark's time budget, and return small, non-empty
# results (a Grafana panel's shape; cheap to check against the oracle).
DASHBOARD_ENTRIES = (
    "a4_topk_users_by_value",
    "cdc_scd2_type_history",
    "j1_dim_join_agg",
    "lay_zorder_compaction_plan",
    "o5_union_slices",
    "p14_key_and_map_lookup",
    "q1_pricing_summary",
    "r2_pivot_daily_type_totals",
    "sk_cms_heavy_hitters",
    "st_funnel_conversion",
    "t4_view_series_hist_impute",
    "ts_rolling_zscore_anomalies",
)
CORPUS_ENTRIES = (
    "dd_exact_dup_groups",
    "dd_minhash_lsh_near_dups",
    "ann_brute_force_topk",
    "ann_lsh_topk",
    "emb_dim_stats",
    "emb_label_centroids",
    "txt_lang_id",
    "txt_token_stats",
    "smp_train_val_test_split",
    "smp_weighted_sample",
    "pk_packed_sequences",
    "pk_sequence_pack_plan",
    "rag_mmr_diversified_topk",
    "mm_frame_plan",
)
FAMILIES = (
    "a", "cdc", "j", "lay", "o", "p", "q", "r", "sk", "st", "t", "ts",
    "dd", "ann", "emb", "txt", "smp", "pk", "rag", "mm",
)
MEMO_CHECKS_PER_RUN = 3


def family(name: str) -> str:
    return re.match(r"[a-z]+", name).group(0)


class CatalogLoop:
    """Runs catalog ops against one snapshot directory, remembering the
    DataFrame each entry last returned (to tell plan-memo hits)."""

    def __init__(self, run: harness.Run, spark, oracles: dict, cpus: int):
        from energy_data_pipeline_spark.plans.catalog import CATALOG

        self.run = run
        self.spark = spark
        self.catalog = CATALOG
        self.oracles = oracles
        self.cpus = cpus
        self.last: dict[str, object] = {}
        self.records: list[dict] = []
        self.n_ops = 0

    def check(self, name: str, snap: str, expect_hit: bool) -> None:
        """Invoke ``name`` once and compare its rows with the oracle."""
        from tests.oracle_harness import compare

        self.run.attempted += 1
        try:
            df = self.catalog[name][0](self.spark, snap)
            hit = df is self.last.get(name)
            self.last[name] = df
            if hit != expect_hit:
                self.run.fail(f"{name}: plan memo {'hit' if hit else 'miss'} unexpected")
            report = compare(df, CachedOracle(self.oracles[name]), "")
        except Exception as exc:
            self.run.fail(f"{name} check: {type(exc).__name__}: {exc}")
            return
        if not report["ok"]:
            self.run.fail(f"{name}: {'; '.join(report['issues'])[:300]}")

    def op(self, name: str, snap: str, tracer: harness.Tracer, expect_hit: bool) -> float:
        """One timed op; returns its latency. Failures count, never raise."""
        self.n_ops += 1
        op = f"op{self.n_ops}"
        fn = self.catalog[name][0]
        self.run.attempted += 1
        rec = {"name": name, "family": family(name), "traced": tracer.enabled}
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op):
                with tracer.span("plans.build", op, f"{op}:b") as b:
                    df = fn(self.spark, snap)
                with tracer.span("plans.exec", op, f"{op}:e") as e:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            self.run.fail(f"{name}: {type(exc).__name__}: {exc}")
            return time.perf_counter() - t0
        latency = time.perf_counter() - t0
        rec["hit"] = df is self.last.get(name)
        self.last[name] = df
        if rec["hit"] != expect_hit:
            self.run.fail(f"{name}: plan memo {'hit' if rec['hit'] else 'miss'} unexpected")
        if tracer.enabled:
            rec["build_s"] = b["end"] - b["start"]
            rec["exec_s"] = e["end"] - e["start"]
            rec["build"] = tracer.group_counts(f"{op}:b")
            rec["exec"] = tracer.group_counts(f"{op}:e")
        self.records.append(rec)
        return latency

    def layers(self) -> dict:
        """Per-op means of the traced ops' plan and family layer metrics."""
        recs = [r for r in self.records if r["traced"]]
        n = max(len(recs), 1)

        def total(key: str) -> float:
            return sum(r["build"][key] + r["exec"][key] for r in recs)

        out = {
            "plans.build_s": harness.mean([r["build_s"] for r in recs]),
            "plans.build_jobs": sum(r["build"]["jobs"] for r in recs) / n,
            "plans.memo_hit_ratio": sum(r["hit"] for r in recs) / n,
            "plans.jobs": sum(r["exec"]["jobs"] for r in recs) / n,
            "plans.stages": total("stages") / n,
            "plans.skipped_stages": total("skipped_stages") / n,
            "plans.tasks": total("tasks") / n,
            "plans.exec_s": harness.mean([r["exec_s"] for r in recs]),
            "plans.task_s": total("task_s") / n,
            "plans.sched_s": harness.mean(
                [r["exec_s"] - (r["build"]["task_s"] + r["exec"]["task_s"]) / self.cpus for r in recs]
            ),
            "plans.shuffle_read_bytes": total("shuffle_read_bytes") / n,
            "plans.shuffle_write_bytes": total("shuffle_write_bytes") / n,
            "plans.spill_bytes": total("spill_bytes") / n,
        }
        for fam in FAMILIES:
            fr = [r for r in recs if r["family"] == fam]
            out[f"family.{fam}.build_s"] = harness.mean([r["build_s"] for r in fr])
            out[f"family.{fam}.exec_s"] = harness.mean([r["exec_s"] for r in fr])
        return out


def _measure(run, loop, names, snap_for_pass, rng, minimum, expect_hit):
    """Seeded-order passes over ``names`` until the run's seconds are
    filled (judged from the first pass). In traced runs every other pass
    is traced, so one run also yields the tracing overhead."""
    tracer = harness.Tracer(loop.spark, run.trace)
    off = harness.Tracer(loop.spark, False)
    lat: list[float] = []
    traced_lat: list[float] = []
    measured = 0.0
    units = None
    p = 0
    with harness.RssSampler() as rss:
        while units is None or p < units:
            snap = snap_for_pass(p)
            order = list(names)
            rng.shuffle(order)
            traced = run.trace and p % 2 == 1
            t0 = time.perf_counter()
            for name in order:
                dt_s = loop.op(name, snap, tracer if traced else off, expect_hit)
                (traced_lat if traced else lat).append(dt_s)
            pass_s = time.perf_counter() - t0
            measured += pass_s
            if units is None:
                units = harness.planned_units(run.seconds, pass_s, minimum)
            p += 1
    peak = {"peak_rss_mb": rss.peak_mb, "retained_mb": harness.retained_mb(loop.spark)}
    return lat, traced_lat, measured, peak, tracer


def run_dashboard_serve(run: harness.Run, spark, snap: str, oracles: dict, cpus: int) -> dict:
    rng = random.Random(run.seed)
    loop = CatalogLoop(run, spark, oracles, cpus)
    names = list(DASHBOARD_ENTRIES)
    warm = list(names)
    rng.shuffle(warm)
    # warm-up pass: each entry's first (cold) invocation, checked
    for name in warm:
        loop.check(name, snap, expect_hit=False)
    setup_s = run.setup_elapsed()
    lat, traced_lat, measured, peak, tracer = _measure(
        run, loop, names, lambda _p: snap, rng, 2 if run.trace else 3, expect_hit=True
    )
    # one memo-hit invocation per sampled entry, checked
    for name in rng.sample(names, MEMO_CHECKS_PER_RUN):
        loop.check(name, snap, expect_hit=True)
    return _result(run, loop, setup_s, lat, traced_lat, measured, peak, tracer)


def run_corpus_cold(run: harness.Run, spark, snap: str, oracles: dict, cpus: int) -> dict:
    rng = random.Random(run.seed)
    loop = CatalogLoop(run, spark, oracles, cpus)
    names = list(CORPUS_ENTRIES)
    # the copies live in the run's directory, removed when the run ends
    copies: list[str] = []

    def fresh_copy() -> str:
        path = f"{run.work_dir}/snapshot-copy-{len(copies)}"
        shutil.copytree(snap, path)
        copies.append(path)
        return path

    warm_snap = fresh_copy()
    warm = list(names)
    rng.shuffle(warm)
    for name in warm:
        loop.check(name, warm_snap, expect_hit=False)
    first = fresh_copy()
    setup_s = run.setup_elapsed()

    def snap_for_pass(p):
        # later passes copy between passes, outside the measured wall
        return first if p == 0 else fresh_copy()

    lat, traced_lat, measured, peak, tracer = _measure(
        run, loop, names, snap_for_pass, rng, 1 + run.trace, expect_hit=False
    )
    for name in rng.sample(names, MEMO_CHECKS_PER_RUN):
        loop.check(name, copies[-1], expect_hit=True)
    return _result(run, loop, setup_s, lat, traced_lat, measured, peak, tracer)


def _result(run, loop, setup_s, lat, traced_lat, measured, peak, tracer) -> dict:
    out = {
        "setup_s": setup_s,
        "latencies": lat or traced_lat,
        "measured_s": measured if not run.trace else sum(lat),
        **peak,
        "tracer": tracer,
        "layers": {},
    }
    if run.trace:
        out["layers"] = loop.layers()
        out["layers"]["trace.overhead_p50_s"] = (
            harness.latency_summary(traced_lat)["p50"] - harness.latency_summary(lat)["p50"]
        )
    return out
