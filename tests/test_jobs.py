"""End-to-end job tests mirroring the reference's flows (SURVEY.md §3):
PV collection transform+load invariants (24 rows/plant-day, idempotent
replay), weather ETL impute+merge, and the dashboard SQL surface."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from energy_data_pipeline_spark.jobs import (
    daily_pv_job,
    serve_dashboard,
    weather_etl_job,
)


def _wide_pv_batch(spark, days, gencds=("G1", "G2"), base=10.0):
    """One row per (day, gencd): ymd, gencd, hogi, plant_name, 24 hour cols."""
    rows = []
    for d in days:
        for g in gencds:
            row = {
                "ymd": d,
                "gencd": g,
                "hogi": 1,
                "plant_name": "None" if g == "G2" else f"plant-{g}",
            }
            for h in range(1, 25):
                # a couple of dirty cells exercise the coerce path
                row[f"qhorgen{h:02d}"] = (
                    "bad" if (g == "G2" and h == 5) else str(base + h)
                )
            rows.append(row)
    return spark.createDataFrame(rows)


def test_daily_pv_job_shape_and_idempotency(spark, tmp_path):
    path = str(tmp_path / "pv_generation")
    name_map = {"G1": "plant-G1", "G2": "plant-G2-mapped"}

    stats = daily_pv_job(
        _wide_pv_batch(spark, ["20240101", "20240102"]), path, name_map
    )
    assert stats["rows_in_batch"] == 2 * 2 * 24
    assert stats["rows_in_table"] == stats["rows_in_batch"]
    assert stats["days_in_batch"] == 2

    out = spark.read.parquet(path)
    # 24 rows per plant-day invariant (daily_pv_automation.py:105-113)
    per_day = out.groupBy("gencd", F.to_date("datetime").alias("d")).count()
    assert all(r["count"] == 24 for r in per_day.collect())
    # coerce-with-default: the dirty cell became 0.0, not NULL
    assert out.filter("generation = 0.0").count() == 2  # one per day for G2 h5
    # P14 fallback: "None" plant name replaced from the map
    assert (
        out.filter("gencd = 'G2'").select("plant_name").distinct().collect()[0][0]
        == "plant-G2-mapped"
    )

    # replaying the SAME batch must not duplicate anything (K4 idempotency)
    stats2 = daily_pv_job(
        _wide_pv_batch(spark, ["20240101", "20240102"]), path, name_map
    )
    assert stats2["rows_in_table"] == stats["rows_in_table"]

    # a corrected overlapping batch replaces only its own day
    stats3 = daily_pv_job(
        _wide_pv_batch(spark, ["20240102", "20240103"], base=100.0), path, name_map
    )
    out3 = spark.read.parquet(path)
    assert stats3["rows_in_table"] == 3 * 2 * 24
    jan1_max = out3.filter("datetime < '2024-01-02'").agg(F.max("generation")).collect()[0][0]
    jan2_max = out3.filter(
        "datetime >= '2024-01-02' and datetime < '2024-01-03'"
    ).agg(F.max("generation")).collect()[0][0]
    assert jan1_max < 50  # old batch value retained
    assert jan2_max > 100  # replaced by corrected batch


def _weather_batch(spark, stations=("seoul", "busan"), hours=72, gaps=((5, 2), (30, 5))):
    rows = []
    for s in stations:
        for h in range(hours):
            ta: float | None = 10.0 + 5 * math.sin(h / 24 * 2 * math.pi)
            hm: float | None = 60.0 + 10 * math.cos(h / 24 * 2 * math.pi)
            for start, length in gaps:
                if start <= h < start + length:
                    ta = None
                    hm = None
            rows.append((s, dt.datetime(2024, 3, 1) + dt.timedelta(hours=h), ta, hm))
    return spark.createDataFrame(rows, "station_name string, tm timestamp_ntz, ta double, hm double")


def test_weather_etl_job_imputes_and_merges(spark, tmp_path):
    path = str(tmp_path / "weather_all")
    stats = weather_etl_job(_weather_batch(spark), path)
    assert stats["ta_nulls_before"] == 2 * (2 + 5)
    assert stats["ta_nulls_after"] == 0
    assert stats["hm_nulls_after"] == 0
    assert stats["rows_in_table"] == 2 * 72

    # re-delivery of an overlapping corrected batch keeps the key unique
    stats2 = weather_etl_job(_weather_batch(spark, hours=96), path)
    assert stats2["rows_in_table"] == 2 * 96
    out = spark.read.parquet(path)
    assert out.groupBy("station_name", "tm").count().filter("count > 1").count() == 0


def test_weather_etl_job_leaves_no_cache_entry(spark, tmp_path):
    """Two weather ticks must not grow the session's CacheManager: the
    impute operator caches nothing it cannot release, and the imputed
    batch is materialized by a local checkpoint, not a cache entry."""
    spark.catalog.clearCache()
    path = str(tmp_path / "weather_all")
    weather_etl_job(_weather_batch(spark), path)
    weather_etl_job(_weather_batch(spark, hours=96), path)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_serve_dashboard_panels(spark, sf_small):
    panels = serve_dashboard(spark, sf_small)
    assert set(panels) == {
        "hourly_generation_timeseries",
        "window_total_stat",
        "top10_entities",
        "active_entity_count",
        "daily_total_30d",
    }
    for name, df in panels.items():
        rows = df.collect()
        assert rows, f"panel {name} returned no rows"
    assert panels["top10_entities"].count() == 10


def _wide_wind_batch(spark, days, plants=(("한림풍력", 1), ("한림풍력", 2), ("성산풍력", 1))):
    rows = []
    for d in days:
        for name, hogi in plants:
            row = {"ymd": d, "plant_name": name, "hogi": hogi}
            for h in range(1, 25):
                row[f"qhorGen{h:02d}"] = float(h + hogi * 10)
            rows.append(row)
    return spark.createDataFrame(rows)


def test_wind_ingest_job_rollover_suffix_upsert(spark, tmp_path):
    from energy_data_pipeline_spark.jobs import wind_ingest_job

    path = str(tmp_path / "wind")
    stats = wind_ingest_job(_wide_wind_batch(spark, ["20240101"]), path)
    assert stats["rows_in_batch"] == 3 * 24
    out = spark.read.parquet(path)
    # P9: hour 24 rolled to next-day 00:00
    rolled = out.filter("timestamp = '2024-01-02 00:00:00'")
    assert rolled.count() == 3
    assert out.filter("timestamp = '2024-01-01 00:00:00'").count() == 0
    # P15/A8: multi-unit plant suffixed, single-unit untouched
    names = {r[0] for r in out.select("plant_name").distinct().collect()}
    assert names == {"한림풍력 1", "한림풍력 2", "성산풍력"}
    # K5: redelivery upserts, no key duplicates
    stats2 = wind_ingest_job(_wide_wind_batch(spark, ["20240101"]), path)
    assert stats2["rows_in_table"] == stats["rows_in_table"]
    out2 = spark.read.parquet(path)
    assert out2.groupBy("timestamp", "plant_name").count().filter("count > 1").count() == 0


def test_notify_job_result_mocked(monkeypatch):
    from energy_data_pipeline_spark.jobs.notify import notify_job_result

    sent = []

    def fake_transport(url, payload):
        sent.append((url, payload))
        return 200

    # no URL configured -> silent skip
    monkeypatch.delenv("NOTIFY_WEBHOOK_URL", raising=False)
    assert notify_job_result("pv", {"rows": 1}, transport=fake_transport) is False
    assert sent == []
    # explicit URL -> delivered
    assert notify_job_result(
        "pv", {"rows": 1}, webhook_url="http://x", transport=fake_transport
    )
    assert sent[0][0] == "http://x" and "pv" in sent[0][1]["text"]

    # HTTP 500 -> False, no raise
    assert (
        notify_job_result("pv", {}, webhook_url="http://x", transport=lambda u, p: 500)
        is False
    )

    # transport exception -> False, no raise
    def boom(u, p):
        raise OSError("down")

    assert notify_job_result("pv", {}, webhook_url="http://x", transport=boom) is False


def test_wind_unit_suffix_stable_across_batches(spark, tmp_path):
    """A re-delivery carrying only one unit of a known multi-unit plant
    must keep the suffixed entity name (monotonic naming)."""
    from energy_data_pipeline_spark.jobs import wind_ingest_job

    path = str(tmp_path / "wind")
    wind_ingest_job(_wide_wind_batch(spark, ["20240101"]), path)
    # second batch: only 한림풍력 unit 1
    wind_ingest_job(
        _wide_wind_batch(spark, ["20240102"], plants=(("한림풍력", 1),)), path
    )
    out = spark.read.parquet(path)
    names_day2 = {
        r[0]
        for r in out.filter("timestamp >= '2024-01-02 01:00:00'")
        .select("plant_name")
        .distinct()
        .collect()
    }
    assert names_day2 == {"한림풍력 1"}  # NOT plain 한림풍력


# --- corpus ingest (training-data admission pipeline) ----------------------
_GOOD = (
    "the quick brown fox jumps over the lazy dog and then it runs back "
    "to the barn again tonight"
)
_GOOD2 = (
    "a small stream of data flows into the lake where it is filtered "
    "and stored for later use by the trainers"
)


def _doc_batch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )


def test_corpus_ingest_admission_cascade(spark, tmp_path):
    from energy_data_pipeline_spark.jobs.corpus_ingest import corpus_ingest_job

    path = str(tmp_path / "corpus")
    b1 = _doc_batch(
        spark,
        [
            (1, "web", "en", _GOOD),
            (2, "web", "en", "too short"),          # fails quality
            (3, "web", "en", _GOOD),                # in-batch dup of 1
            (4, "web", "en", _GOOD2),
        ],
    )
    stats = corpus_ingest_job(b1, path, batch_id="b1")
    assert stats == {
        "arrived": 4,
        "failed_quality": 1,
        "dup_in_batch": 1,
        "dup_in_corpus": 0,
        "admitted": 2,
    }
    corpus = spark.read.parquet(path)
    assert {r["doc_id"] for r in corpus.collect()} == {1, 4}  # keep-first

    # batch 2: one dup-of-corpus, one genuinely new
    b2 = _doc_batch(
        spark,
        [
            (10, "web", "en", _GOOD),  # fingerprint already admitted
            (11, "web", "en", _GOOD2 + " with a brand new suffix sentence"),
        ],
    )
    stats2 = corpus_ingest_job(b2, path, batch_id="b2")
    assert stats2["dup_in_corpus"] == 1
    assert stats2["admitted"] == 1

    # retry of batch 2 (idempotence under redelivery): nothing re-admitted
    stats3 = corpus_ingest_job(b2, path, batch_id="b2-retry")
    assert stats3["admitted"] == 0
    assert spark.read.parquet(path).count() == 3


class TestNearDupIngest:
    def test_incremental_admission_with_index(self, spark, tmp_path):
        """Three ingests against a growing index: batch 1 seeds the
        corpus (with an in-batch near-dup resolved); batch 2's
        near-dup of a CORPUS doc is rejected via the index probe
        without re-minhashing the corpus; replaying batch 2 is a
        no-op (identical docs probe out at jaccard 1.0)."""
        from energy_data_pipeline_spark.jobs.neardup_ingest import (
            near_dup_ingest_job,
        )

        corpus, index = str(tmp_path / "corpus"), str(tmp_path / "index")
        base = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
        near = base.replace("alpha3", "zzz3")
        other = " ".join(f"k{i} l{i} m{i}" for i in range(15))

        b1 = spark.createDataFrame(
            [(1, base), (2, near), (3, other)], "doc_id long, text string"
        )
        s1 = near_dup_ingest_job(b1, corpus, index)
        assert s1 == {
            "arrived": 3,
            "dup_in_batch": 1,  # 2 is a near-dup cluster loser of 1
            "near_dup_of_corpus": 0,
            "admitted": 2,
        }

        fresh = " ".join(f"x{i} y{i} z{i}" for i in range(14))
        b2 = spark.createDataFrame(
            [(10, base.replace("alpha5", "qqq5")), (11, fresh)],
            "doc_id long, text string",
        )
        s2 = near_dup_ingest_job(b2, corpus, index)
        assert s2 == {
            "arrived": 2,
            "dup_in_batch": 0,
            "near_dup_of_corpus": 1,  # 10 ~ corpus doc 1 via the index
            "admitted": 1,
        }

        # replay of batch 2: doc 11 now probes out against ITSELF
        s3 = near_dup_ingest_job(b2, corpus, index)
        assert s3["admitted"] == 0 and s3["near_dup_of_corpus"] == 2

        ids = {r.doc_id for r in spark.read.parquet(corpus).collect()}
        assert ids == {1, 3, 11}

    def test_crash_between_appends_self_heals_on_replay(
        self, spark, tmp_path, monkeypatch
    ):
        """Fault injection in the plain-parquet mode: the job appends
        the INDEX before the corpus, so a crash between the two appends
        leaves only an index orphan. The replayed batch then finds no
        corpus row to verify its candidates against, re-admits, and the
        final state is exactly one corpus copy per doc — the round-7
        advice failure (corpus-first order → permanent duplicate corpus
        rows) is structurally impossible."""
        from pyspark.sql.readwriter import DataFrameWriter

        from energy_data_pipeline_spark.jobs.neardup_ingest import (
            near_dup_ingest_job,
        )

        corpus, index = str(tmp_path / "corpus"), str(tmp_path / "index")
        b1 = spark.createDataFrame(
            [(1, " ".join(f"s{i} t{i} u{i}" for i in range(12)))],
            "doc_id long, text string",
        )
        near_dup_ingest_job(b1, corpus, index)  # seed

        b2 = spark.createDataFrame(
            [(2, " ".join(f"p{i} q{i} r{i}" for i in range(14)))],
            "doc_id long, text string",
        )
        orig_parquet = DataFrameWriter.parquet

        def crash_on_corpus(self, path, **kw):
            if path == corpus:
                raise RuntimeError("injected crash between index and corpus append")
            return orig_parquet(self, path, **kw)

        monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_corpus)
        with pytest.raises(RuntimeError, match="injected crash"):
            near_dup_ingest_job(b2, corpus, index)
        monkeypatch.setattr(DataFrameWriter, "parquet", orig_parquet)

        # index has doc 2's orphan band rows; corpus does not have doc 2
        assert spark.read.parquet(corpus).filter("doc_id = 2").count() == 0
        assert spark.read.parquet(index).filter("doc_id = 2").count() > 0

        # replay: doc 2 re-admits (no corpus row to verify against)
        s = near_dup_ingest_job(b2, corpus, index)
        assert s["admitted"] == 1
        assert spark.read.parquet(corpus).filter("doc_id = 2").count() == 1

        # a second replay is now a clean no-op despite duplicate index
        # rows (candidate dedup collapses them; corpus copy rejects)
        s2 = near_dup_ingest_job(b2, corpus, index)
        assert s2["admitted"] == 0
        assert spark.read.parquet(corpus).filter("doc_id = 2").count() == 1

    def test_atomic_mode_is_both_or_neither(self, spark, tmp_path, monkeypatch):
        """Fault injection in the manifest-group mode: a crash at the
        pointer flip leaves NEITHER the corpus nor the index append
        visible (only invisible orphan files); the retried commit
        publishes both at once."""
        from energy_data_pipeline_spark.jobs.neardup_ingest import (
            CORPUS_SUB,
            INDEX_SUB,
            near_dup_ingest_job_atomic,
        )
        from energy_data_pipeline_spark.sinks import manifest_table

        root = str(tmp_path / "group")
        b1 = spark.createDataFrame(
            [(1, " ".join(f"a{i} b{i} c{i}" for i in range(12)))],
            "doc_id long, text string",
        )
        s1 = near_dup_ingest_job_atomic(b1, root)
        assert s1["admitted"] == 1
        assert manifest_table.group_read(spark, root, CORPUS_SUB).count() == 1
        assert manifest_table.group_read(spark, root, INDEX_SUB).count() > 0

        b2 = spark.createDataFrame(
            [(2, " ".join(f"d{i} e{i} f{i}" for i in range(14)))],
            "doc_id long, text string",
        )

        def crash_cas(current_path, tmp_path_, expected):
            raise RuntimeError("injected crash at pointer flip")

        monkeypatch.setattr(manifest_table, "_replace_if_unchanged", crash_cas)
        with pytest.raises(RuntimeError, match="pointer flip"):
            near_dup_ingest_job_atomic(b2, root)
        monkeypatch.undo()

        # neither side of the batch is visible — old snapshot intact
        assert manifest_table.group_read(spark, root, CORPUS_SUB).count() == 1
        idx_before = manifest_table.group_read(spark, root, INDEX_SUB).count()

        # retry publishes corpus AND index together
        s2 = near_dup_ingest_job_atomic(b2, root)
        assert s2["admitted"] == 1
        assert manifest_table.group_read(spark, root, CORPUS_SUB).count() == 2
        assert manifest_table.group_read(spark, root, INDEX_SUB).count() > idx_before

    def test_compact_and_forget_maintain_group_invariants(self, spark, tmp_path):
        """Operational hygiene over the commit group: compaction drops
        the duplicate index rows a self-healed replay leaves behind
        (admission results unchanged), and the forget job removes a
        document from corpus AND index in one commit — a subsequent
        re-ingest of the forgotten text is admitted again, proving no
        stale index rows survived to reject it."""
        from energy_data_pipeline_spark.jobs.neardup_ingest import (
            CORPUS_SUB,
            INDEX_SUB,
            compact_band_index_job,
            corpus_forget_job,
            near_dup_ingest_job_atomic,
        )
        from energy_data_pipeline_spark.sinks import manifest_table

        root = str(tmp_path / "group")
        base = " ".join(f"a{i} b{i} c{i}" for i in range(12))
        other = " ".join(f"k{i} l{i} m{i}" for i in range(15))
        b1 = spark.createDataFrame(
            [(1, base), (2, other)], "doc_id long, text string"
        )
        near_dup_ingest_job_atomic(b1, root)

        # simulate the self-healing replay's duplicate index rows
        idx = manifest_table.group_read(spark, root, INDEX_SUB)
        manifest_table.group_append(
            {INDEX_SUB: idx.filter("doc_id = 1")}, root
        )
        dup_count = manifest_table.group_read(spark, root, INDEX_SUB).count()
        stats = compact_band_index_job(spark, root)
        assert stats["rows_before"] == dup_count
        assert stats["rows_after"] < dup_count
        # admission behavior unchanged: near-dup of doc 1 still rejected
        probe = spark.createDataFrame(
            [(10, base.replace("a3", "z3"))], "doc_id long, text string"
        )
        assert near_dup_ingest_job_atomic(probe, root)["admitted"] == 0

        # forget doc 1 everywhere, atomically
        stats = corpus_forget_job(
            spark, root, spark.createDataFrame([(1,)], "doc_id long")
        )
        assert stats["corpus_removed"] == 1 and stats["index_removed"] > 0
        assert manifest_table.group_read(spark, root, CORPUS_SUB).filter(
            "doc_id = 1"
        ).count() == 0
        assert manifest_table.group_read(spark, root, INDEX_SUB).filter(
            "doc_id = 1"
        ).count() == 0
        # physical deletion after history trim
        deleted = manifest_table.group_vacuum(root)
        assert deleted

        # the forgotten content is admittable again — no ghost index rows
        again = spark.createDataFrame([(20, base)], "doc_id long, text string")
        assert near_dup_ingest_job_atomic(again, root)["admitted"] == 1

    def test_corpus_drift_report_across_versions(self, spark, tmp_path):
        """Drift report over manifest time travel: identical versions
        report zero divergence; after an append that shifts the token
        mix, the per-source deltas are exact and the JS divergence is
        strictly positive and bounded by ln(2)."""
        import math

        from energy_data_pipeline_spark.jobs.corpus_drift import (
            corpus_drift_report,
        )
        from energy_data_pipeline_spark.jobs.neardup_ingest import CORPUS_SUB
        from energy_data_pipeline_spark.sinks import manifest_table as mt

        root = str(tmp_path / "group")
        b0 = spark.createDataFrame(
            [(i, "web", f"alpha beta gamma tok{i}") for i in range(10)],
            "doc_id long, source string, text string",
        )
        mt.group_append({CORPUS_SUB: b0}, root)  # version 0
        b1 = spark.createDataFrame(
            [(100 + i, "api", "zzz yyy xxx www") for i in range(5)],
            "doc_id long, source string, text string",
        )
        mt.group_append({CORPUS_SUB: b1}, root)  # version 1

        same = corpus_drift_report(spark, root, 0, 0)
        assert same["token_js_divergence"] == 0.0
        assert same["docs_old"] == same["docs_new"] == 10

        rep = corpus_drift_report(spark, root, 0)  # 0 -> live
        assert rep["docs_old"] == 10 and rep["docs_new"] == 15
        deltas = {s: d for s, _o, _n, d in rep["per_source"]}
        assert deltas == {"web": 0, "api": 5}
        assert 0 < rep["token_js_divergence"] <= math.log(2) + 1e-9

    def test_forget_job_rewrites_only_intersecting_files(self, spark, tmp_path):
        """The forget job is FILE-PRUNED: with three appended batches
        (three disjoint doc_id ranges → three file sets), forgetting an
        id from the middle range must rewrite only that range's files —
        the other batches' parquet paths appear IDENTICAL in the new
        manifest version (no read, no copy), while the data still loses
        exactly the forgotten rows."""
        from energy_data_pipeline_spark.jobs.neardup_ingest import (
            CORPUS_SUB,
            INDEX_SUB,
            corpus_forget_job,
        )
        from energy_data_pipeline_spark.sinks import manifest_table as mt

        root = str(tmp_path / "group")
        for lo in (0, 100, 200):
            docs = spark.createDataFrame(
                [(lo + i, f"text {lo + i}") for i in range(10)],
                "doc_id long, text string",
            ).coalesce(1)
            idx = spark.createDataFrame(
                [(lo + i, 7) for i in range(10)], "doc_id long, band int"
            ).coalesce(1)
            mt.group_append({CORPUS_SUB: docs, INDEX_SUB: idx}, root)

        before = mt.read_manifest(root)["tables"]
        stats = corpus_forget_job(
            spark, root, spark.createDataFrame([(105,)], "doc_id long")
        )
        assert stats["corpus_removed"] == 1 and stats["index_removed"] == 1
        assert stats["files_carried"] >= 4  # 2 untouched batches x 2 subs
        assert stats["files_touched"] <= 2  # only the middle batch's files

        after = mt.read_manifest(root)["tables"]
        for sub in (CORPUS_SUB, INDEX_SUB):
            carried = set(before[sub]) & set(after[sub])
            # both non-intersecting batches' files survive by PATH
            assert len(carried) >= 2, (sub, before[sub], after[sub])
        corpus = mt.group_read(spark, root, CORPUS_SUB)
        assert corpus.count() == 29
        assert corpus.filter("doc_id = 105").count() == 0


class TestCorpusLifecycle:
    def test_full_operational_story_composes(self, spark, tmp_path):
        """Capstone: the whole corpus-operations surface in one flow —
        streaming near-dup admission over two drains, index compaction,
        a drift report between the resulting versions, an atomic
        file-pruned forget, and a physical vacuum — each step observing
        exactly the state the previous one committed."""
        import math

        from energy_data_pipeline_spark.jobs.corpus_drift import (
            corpus_drift_report,
        )
        from energy_data_pipeline_spark.jobs.neardup_ingest import (
            CORPUS_SUB,
            INDEX_SUB,
            compact_band_index_job,
            corpus_forget_job,
        )
        from energy_data_pipeline_spark.sinks import manifest_table as mt
        from energy_data_pipeline_spark.streaming.incremental import (
            neardup_admission_stream,
        )

        landing = str(tmp_path / "landing")
        root = str(tmp_path / "group")
        ckpt = str(tmp_path / "ckpt")
        schema = "doc_id long, text string, ingest_ts timestamp"
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        texts = {
            1: " ".join(f"a{i} b{i} c{i}" for i in range(12)),
            2: " ".join(f"k{i} l{i} m{i}" for i in range(15)),
            10: " ".join(f"x{i} y{i} z{i}" for i in range(14)),
        }
        stats: list = []

        def drain():
            stream = spark.readStream.schema(schema).parquet(landing)
            neardup_admission_stream(stream, root, ckpt, stats_out=stats)

        # drain 1: two distinct docs admitted
        spark.createDataFrame(
            [(1, texts[1], t0), (2, texts[2], t0)], schema
        ).write.mode("append").parquet(landing)
        drain()
        v_after_first = mt.read_manifest(root)["version"]

        # drain 2: one near-dup (rejected via index), one new doc
        spark.createDataFrame(
            [(9, texts[1].replace("a3", "q3"), t0), (10, texts[10], t0)],
            schema,
        ).write.mode("append").parquet(landing)
        drain()
        assert stats[-1]["near_dup_of_corpus"] == 1
        assert stats[-1]["admitted"] == 1

        # compaction: duplicate index rows (none here) → no-op commit
        comp = compact_band_index_job(spark, root)
        assert comp["rows_after"] <= comp["rows_before"]

        # drift between the first admission and live: doc 10 arrived
        rep = corpus_drift_report(spark, root, v_after_first)
        assert rep["docs_new"] - rep["docs_old"] == 1
        assert 0 < rep["token_js_divergence"] < math.log(2)

        # forget doc 1 atomically; its near-dup content re-admits after
        fg = corpus_forget_job(
            spark, root, spark.createDataFrame([(1,)], "doc_id long")
        )
        assert fg["corpus_removed"] == 1 and fg["index_removed"] > 0
        deleted = mt.group_vacuum(root)
        assert deleted  # old versions' files physically reclaimed
        corpus = mt.group_read(spark, root, CORPUS_SUB)
        assert {r.doc_id for r in corpus.collect()} == {2, 10}
        idx_docs = {
            r.doc_id for r in mt.group_read(spark, root, INDEX_SUB).collect()
        }
        assert idx_docs == {2, 10}  # group invariant: corpus == index docs


def test_ivfpq_index_build_query_append_lifecycle(spark, tmp_path, sf_small):
    """The IVFADC index lifecycle: build publishes coarse + codebook +
    codes as ONE commit group; probed search from the committed index
    equals the operator path with the same quantizers; the +R refine
    path equals ivfpq_refine_topk; append assigns with the FROZEN
    quantizers and is idempotent under replay."""
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.jobs import pq_index
    from energy_data_pipeline_spark.operators import pq
    from energy_data_pipeline_spark.sinks import manifest_table
    from energy_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    first = emb.filter(F.col("vec_id") < 400)
    rest = emb.filter(F.col("vec_id") >= 400)
    root = str(tmp_path / "ivfpqidx")

    stats = pq_index.ivfpq_index_build(spark, first, root)
    assert stats["version"] == 0
    assert stats["m"] == pq.PQ_M and stats["cells"] == 8

    q = first.filter(F.col("vec_id") < 8)
    got = {
        tuple(r)
        for r in pq_index.ivfpq_index_topk(spark, q, root, nprobe=2).collect()
    }
    coarse, cents = pq.ivfpq_train(first, coarse_k=8, coarse_iters=1)
    expect = {
        tuple(r)
        for r in pq.ivfpq_topk(first, q, coarse, cents, nprobe=2).collect()
    }
    assert got == expect and got

    # the +R refine path from the committed index matches the operator
    got_r = {
        tuple(r)
        for r in pq_index.ivfpq_index_topk(
            spark, q, root, nprobe=2, refine_with=first, shortlist=10
        ).collect()
    }
    expect_r = {
        tuple(r)
        for r in pq.ivfpq_refine_topk(
            first, q, coarse, cents, nprobe=2, shortlist=10
        ).collect()
    }
    assert got_r == expect_r and got_r

    # frozen-quantizer append; replaying the same batch appends nothing
    rep = pq_index.ivfpq_index_append(spark, rest, root)
    assert rep["version"] == 1 and rep["appended"] > 0
    codes = manifest_table.group_read(spark, root, pq_index.CODES_SUB)
    assert codes.count() == emb.count()
    rep2 = pq_index.ivfpq_index_append(spark, rest, root)
    assert rep2["appended"] == 0 and rep2["version"] == 1
    coarse_after = pq_index._coarse_from_frame(
        manifest_table.group_read(spark, root, pq_index.COARSE_SUB)
    )
    assert coarse_after == coarse

    got2 = {
        tuple(r)
        for r in pq_index.ivfpq_index_topk(spark, q, root, nprobe=2).collect()
    }
    expect2 = {
        tuple(r)
        for r in pq.ivfpq_topk(emb, q, coarse, cents, nprobe=2).collect()
    }
    assert got2 == expect2


def test_pq_index_build_query_append_lifecycle(spark, tmp_path, sf_small):
    """The PQ index lifecycle: build publishes codebook+codes as one
    commit group; search from the committed index equals the operator
    path with the same codebook; append assigns with the FROZEN
    codebook (no retrain) and the next search sees the new vectors."""
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.jobs import pq_index
    from energy_data_pipeline_spark.operators import pq
    from energy_data_pipeline_spark.sinks import manifest_table
    from energy_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    first = emb.filter(F.col("vec_id") < 400)
    rest = emb.filter(F.col("vec_id") >= 400)
    root = str(tmp_path / "pqidx")

    stats = pq_index.pq_index_build(spark, first, root)
    assert stats["version"] == 0 and stats["m"] == pq.PQ_M

    q = first.filter(F.col("vec_id") < 8)
    got = {
        tuple(r) for r in pq_index.pq_index_topk(spark, q, root).collect()
    }
    cents = pq.pq_train(first)
    expect = {
        tuple(r) for r in pq.pq_adc_topk(first, q, cents).collect()
    }
    assert got == expect

    # the CORPUS side of the search must read committed codes, not raw
    # vectors: the only embeddings scan is the tiny query side
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pq_index.pq_index_topk(spark, q, root).explain("formatted")
    plan = buf.getvalue()
    assert f"{root}" in plan, plan[:1500]
    emb_scans = [
        ln for ln in plan.splitlines()
        if "Location" in ln and "embeddings.parquet" in ln
    ]
    assert len(emb_scans) == 1, emb_scans

    # append with the frozen codebook: codes grow, codebook unchanged
    rep = pq_index.pq_index_append(spark, rest, root)
    assert rep["version"] == 1
    codes = manifest_table.group_read(spark, root, pq_index.CODES_SUB)
    assert codes.count() == emb.count()
    cb_after = pq_index._codebook_from_frame(
        manifest_table.group_read(spark, root, pq_index.CODEBOOK_SUB)
    )
    assert cb_after == cents

    got2 = {
        tuple(r) for r in pq_index.pq_index_topk(spark, q, root).collect()
    }
    expect2 = {
        tuple(r)
        for r in pq.adc_topk_from_codes(
            pq.pq_assign(emb, cents), q, cents
        ).collect()
    }
    assert got2 == expect2

    # replayed append is a no-op: duplicated code rows would double a
    # vector's ADC distance terms and corrupt its rankings
    rep_replay = pq_index.pq_index_append(spark, rest, root)
    assert rep_replay["appended"] == 0 and rep_replay["version"] == 1
    assert (
        manifest_table.group_read(spark, root, pq_index.CODES_SUB).count()
        == emb.count()
    )
    assert {
        tuple(r) for r in pq_index.pq_index_topk(spark, q, root).collect()
    } == got2

    # append before build fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no committed index"):
        pq_index.pq_index_append(spark, rest, str(tmp_path / "nope"))


def test_publish_dashboard_snapshot_atomic_versions(spark, sf_small, tmp_path):
    from energy_data_pipeline_spark.jobs.analytics import (
        DASHBOARD_TS_PANELS,
        publish_dashboard_snapshot,
        read_dashboard_panel,
    )
    from energy_data_pipeline_spark.plans.catalog import CATALOG

    root = str(tmp_path / "dashboard")
    m1 = publish_dashboard_snapshot(spark, sf_small, root)
    assert set(m1["tables"]) == set(DASHBOARD_TS_PANELS)
    for panel in DASHBOARD_TS_PANELS:
        got = read_dashboard_panel(spark, root, panel)
        want = CATALOG[panel][0](spark, sf_small)
        assert got.count() == want.count(), panel

    # crash at the pointer flip: everything staged, NOTHING published
    def exploding_cas(path, tmp, expected):
        raise OSError("injected crash at commit point")

    try:
        publish_dashboard_snapshot(
            spark, sf_small, root, compare_and_swap=exploding_cas
        )
        raise AssertionError("injected CAS crash did not propagate")
    except OSError:
        pass
    peaks_v1 = read_dashboard_panel(spark, root, "ts_daily_peak_hours")
    assert peaks_v1.count() == CATALOG["ts_daily_peak_hours"][0](
        spark, sf_small
    ).count()  # still version 1's content

    # clean re-publish: one new version, old one remains time-travelable
    m2 = publish_dashboard_snapshot(spark, sf_small, root)
    assert m2["version"] == m1["version"] + 1
    old = read_dashboard_panel(
        spark, root, "ts_daily_peak_hours", version=m1["version"]
    )
    assert old.count() == peaks_v1.count()


def test_zorder_rewrite_prunes_both_dimensions(spark, sf_small, tmp_path):
    """Z-order compaction: after the rewrite, a narrow range predicate
    on EITHER clustered dimension (user_id, ts) must touch a strict
    subset of files — judged from the parquet footer min/max alone,
    the same metadata a data-skipping reader uses. A time-sorted
    layout (the naive compaction) prunes ts but NOT user_id; z-order
    must beat it on the user dimension while still pruning time."""
    from energy_data_pipeline_spark.jobs.compaction import (
        skipping_effectiveness,
        zorder_rewrite,
    )
    from energy_data_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_small, "events")
    n_before = ev.count()

    zpath = str(tmp_path / "events_zorder")
    zorder_rewrite(ev, zpath, n_files=8)
    out = spark.read.parquet(zpath)
    assert out.count() == n_before
    assert set(out.columns) == set(ev.columns)

    # the naive alternative: sort by time only
    tpath = str(tmp_path / "events_timesort")
    (
        ev.repartitionByRange(8, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(tpath)
    )

    users = sorted(r["user_id"] for r in ev.select("user_id").distinct().collect())
    lo_u, hi_u = users[0], users[max(0, len(users) // 20 - 1)]  # ~5% of users
    z_user = skipping_effectiveness(spark, zpath, "user_id", lo_u, hi_u)
    t_user = skipping_effectiveness(spark, tpath, "user_id", lo_u, hi_u)
    # z-order prunes the user dimension; the time-sorted layout cannot
    assert z_user["fraction_touched"] < 1.0, z_user
    assert z_user["fraction_touched"] < t_user["fraction_touched"], (
        z_user,
        t_user,
    )

    # and it still prunes time better than reading everything
    import datetime as _dt

    z_time = skipping_effectiveness(
        spark,
        zpath,
        "ts",
        _dt.datetime(2024, 1, 1),
        _dt.datetime(2024, 1, 3),
    )
    assert z_time["fraction_touched"] < 1.0, z_time


def test_zorder_key_pre_epoch_days_stay_in_range(spark):
    """A timestamp before the day epoch makes datediff negative; the
    Morton key must still land in [0, 2^(2*_Z_BITS)) — a sign-following
    % would sign-extend through shiftright into a garbage code and
    silently destroy clustering for pre-epoch data."""
    import datetime as dt

    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.jobs.compaction import zorder_key
    from energy_data_pipeline_spark.plans.catalog_ext import _Z_BITS

    df = spark.createDataFrame(
        [
            (7, dt.datetime(2019, 3, 5, 4)),   # well before the epoch
            (1023, dt.datetime(2023, 12, 31, 23)),  # one day before
            (5, dt.datetime(2024, 6, 1, 12)),  # after (unchanged path)
        ],
        "user_id bigint, ts timestamp",
    )
    day = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
    keys = [
        r["z"]
        for r in df.select(
            zorder_key(F.col("user_id"), day).alias("z")
        ).collect()
    ]
    assert all(0 <= k < 1 << (2 * _Z_BITS) for k in keys), keys


def _split_events_dirs(spark, sf_small, tmp_path):
    """Build two sf-dirs: one truncated at a mid-corpus day boundary,
    one with the full events table (new data strictly appends later
    days — the incremental contract)."""
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_small, "events")
    days = sorted(
        r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    cut = days[len(days) // 2]
    early_dir = str(tmp_path / "sf_early")
    full_dir = str(tmp_path / "sf_full")
    ev.filter(F.to_date("ts") <= F.lit(cut.isoformat())).write.parquet(
        f"{early_dir}/events.parquet"
    )
    ev.write.parquet(f"{full_dir}/events.parquet")
    return early_dir, full_dir, cut


def test_incremental_refresh_matches_full_recompute(spark, sf_small, tmp_path):
    """Two-tick incremental refresh (publish at day D, append later
    days, refresh) must publish panels IDENTICAL to the catalog's full
    recompute over the complete fact table — the equivalence that
    licenses day-pruned refresh at 100 TB. Also: the rollup scan for
    tick 2 must only touch days >= D (watermark semantics), which the
    rollup row count pins."""
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.jobs.analytics import (
        DASHBOARD_TS_PANELS,
        ROLLUP_SUB,
        read_dashboard_panel,
        refresh_dashboard_incremental,
    )
    from energy_data_pipeline_spark.plans.catalog import CATALOG
    from energy_data_pipeline_spark.sinks import manifest_table

    early_dir, full_dir, cut = _split_events_dirs(spark, sf_small, tmp_path)
    root = str(tmp_path / "dash")
    refresh_dashboard_incremental(spark, early_dir, root)
    v1 = manifest_table.read_manifest(root)["version"]
    # tick 2: later days appended; refresh re-scans only days >= cut
    refresh_dashboard_incremental(spark, full_dir, root)
    assert manifest_table.read_manifest(root)["version"] > v1
    for panel in DASHBOARD_TS_PANELS:
        got = {
            tuple(r)
            for r in read_dashboard_panel(spark, root, panel).collect()
        }
        want = {
            tuple(r) for r in CATALOG[panel][0](spark, full_dir).collect()
        }
        assert got == want, f"{panel}: incremental != full recompute"
    # the merged rollup holds every (type, day, hour) of the full fact
    rollup = manifest_table.group_read(spark, root, ROLLUP_SUB)
    from energy_data_pipeline_spark.sources import load_table

    want_keys = {
        tuple(r)
        for r in load_table(spark, full_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .distinct()
        .collect()
    }
    got_keys = {
        tuple(r)
        for r in rollup.select("event_type", "day", "hour").collect()
    }
    assert got_keys == want_keys


def test_incremental_refresh_jobs_stay_in_callers_job_group(
    spark, sf_small, tmp_path
):
    """The dashboard's sub-tables stage from worker threads, yet every
    job the refresh runs is attributed to the caller's job group: the
    group gains at least one job per staged sub-table (rollup + six
    panels), and no job submitted during the call falls outside it."""
    import uuid

    from energy_data_pipeline_spark.jobs.analytics import (
        refresh_dashboard_incremental,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = uuid.uuid4().hex[:8]
    group, pre, post = f"g-{tag}", f"pre-{tag}", f"post-{tag}"
    try:
        sc.setJobGroup(pre, "marker before the refresh")
        spark.range(1).collect()
        sc.setJobGroup(group, "incremental dashboard refresh")
        refresh_dashboard_incremental(spark, sf_small, str(tmp_path / "dash"))
        sc.setJobGroup(post, "marker after the refresh")
        spark.range(1).collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    lo = max(tracker.getJobIdsForGroup(pre))
    hi = min(tracker.getJobIdsForGroup(post))
    in_group = set(tracker.getJobIdsForGroup(group))
    assert len(in_group) >= 7
    assert set(range(lo + 1, hi)) == in_group


def test_incremental_refresh_replay_and_crash_are_safe(
    spark, sf_small, tmp_path, monkeypatch
):
    """Fault injection on the incremental refresh: a crash at the
    pointer flip publishes NOTHING (previous dashboard stays live,
    panel-consistent), the retry succeeds, and a replayed refresh with
    no new data converges to identical panel contents."""
    import pytest as _pytest

    from energy_data_pipeline_spark.jobs.analytics import (
        DASHBOARD_TS_PANELS,
        read_dashboard_panel,
        refresh_dashboard_incremental,
    )
    from energy_data_pipeline_spark.sinks import manifest_table as mt

    early_dir, full_dir, _cut = _split_events_dirs(spark, sf_small, tmp_path)
    root = str(tmp_path / "dash")
    refresh_dashboard_incremental(spark, early_dir, root)
    v1 = mt.read_manifest(root)["version"]
    before = {
        p: {tuple(r) for r in read_dashboard_panel(spark, root, p).collect()}
        for p in DASHBOARD_TS_PANELS
    }

    def boom(*a, **k):
        raise OSError("injected crash at pointer flip")

    with _pytest.raises(OSError, match="injected crash"):
        refresh_dashboard_incremental(
            spark, full_dir, root, compare_and_swap=boom
        )
    # nothing published: same version, every panel exactly as before
    assert mt.read_manifest(root)["version"] == v1
    for p in DASHBOARD_TS_PANELS:
        now = {
            tuple(r) for r in read_dashboard_panel(spark, root, p).collect()
        }
        assert now == before[p]
    # retry succeeds
    refresh_dashboard_incremental(spark, full_dir, root)
    v2 = mt.read_manifest(root)["version"]
    after = {
        p: {tuple(r) for r in read_dashboard_panel(spark, root, p).collect()}
        for p in DASHBOARD_TS_PANELS
    }
    # replay with no new data: new version, identical contents
    refresh_dashboard_incremental(spark, full_dir, root)
    assert mt.read_manifest(root)["version"] > v2
    for p in DASHBOARD_TS_PANELS:
        replayed = {
            tuple(r) for r in read_dashboard_panel(spark, root, p).collect()
        }
        assert replayed == after[p]


def test_tokenize_silver_job_incremental_and_idempotent(spark, tmp_path):
    """Silver-zone maintenance: batch 1 tokenizes everything; a crash
    REPLAY of batch 1 tokenizes nothing (anti-join no-op); a mixed
    batch tokenizes only the genuinely new documents; wl matches the
    catalog's tokenizer exactly; a crash at the pointer flip publishes
    nothing."""
    import pytest as _pytest

    from energy_data_pipeline_spark.jobs.silver_tokenize import (
        read_silver,
        tokenize_silver_job,
    )
    from energy_data_pipeline_spark.sinks import manifest_table as mt

    table = str(tmp_path / "silver")
    schema = "doc_id long, source string, lang string, text string"
    b1 = spark.createDataFrame(
        [
            (1, "web", "en", "alpha  beta\tgamma"),
            (2, "web", "en", " leading and trailing "),
            (2, "web", "en", " leading and trailing "),  # in-batch dup
        ],
        schema,
    )
    s = tokenize_silver_job(spark, b1, table)
    assert (s["arrived"], s["tokenized"], s["skipped"]) == (2, 2, 0)
    got = {r["doc_id"]: r["wl"] for r in read_silver(spark, table).collect()}
    assert got[1] == ["alpha", "beta", "gamma"]
    assert got[2] == ["leading", "and", "trailing"]

    # crash replay of the SAME batch: no-op, version unchanged
    v1 = mt.read_manifest(table)["version"]
    s = tokenize_silver_job(spark, b1, table)
    assert (s["tokenized"], s["skipped"]) == (0, 2)
    assert mt.read_manifest(table)["version"] == v1

    # mixed batch: one known doc, two new — only the new tokenize
    b2 = spark.createDataFrame(
        [
            (2, "web", "en", " leading and trailing "),
            (3, "api", "de", "neu hier"),
            (4, "api", "de", "auch neu"),
        ],
        schema,
    )
    s = tokenize_silver_job(spark, b2, table)
    assert (s["arrived"], s["tokenized"], s["skipped"]) == (3, 2, 1)
    assert read_silver(spark, table).count() == 4

    # crash at the pointer flip: nothing published
    def boom(*a, **k):
        raise OSError("injected crash at pointer flip")

    b3 = spark.createDataFrame([(5, "web", "en", "ghost doc")], schema)
    with _pytest.raises(OSError, match="injected crash"):
        tokenize_silver_job(spark, b3, table, compare_and_swap=boom)
    assert read_silver(spark, table).count() == 4
    # retry lands it
    s = tokenize_silver_job(spark, b3, table)
    assert s["tokenized"] == 1 and read_silver(spark, table).count() == 5


def test_tokenize_silver_job_concurrent_overlap_keeps_ids_unique(
    spark, tmp_path
):
    """Two concurrent ingests of OVERLAPPING batches must not both
    commit: the anti-join is pinned to the manifest it read, and the
    commit CAS compares against that exact parent — the loser
    conflicts, re-runs its anti-join against the winner's table, and
    appends only the still-new doc_ids. Without the pin both commits
    land and doc_id uniqueness (tokenize-once-EVER) is permanently
    broken. Simulated by injecting a competing overlapping commit
    inside the first ingest's CAS window."""
    from energy_data_pipeline_spark.jobs.silver_tokenize import (
        read_silver,
        tokenize_silver_job,
    )
    from energy_data_pipeline_spark.sinks import manifest_table as mt

    table = str(tmp_path / "silver")
    schema = "doc_id long, source string, lang string, text string"
    seed = spark.createDataFrame([(1, "web", "en", "seed doc")], schema)
    tokenize_silver_job(spark, seed, table)

    rival = spark.createDataFrame(
        [(2, "web", "en", "contested doc"), (3, "api", "de", "rival only")],
        schema,
    )
    mine = spark.createDataFrame(
        [(2, "web", "en", "contested doc"), (4, "api", "de", "mine only")],
        schema,
    )
    state = {"injected": False}

    def cas_with_rival(current, tmp, expected):
        # a second writer lands an overlapping batch INSIDE the first
        # writer's read->commit window, exactly once
        if not state["injected"]:
            state["injected"] = True
            tokenize_silver_job(spark, rival, table)
        return mt._locked_replace_if_unchanged(current, tmp, expected)

    s = tokenize_silver_job(spark, mine, table, compare_and_swap=cas_with_rival)
    # the retry re-derived: doc 2 was taken by the rival, only doc 4 new
    assert s["tokenized"] == 1
    rows = read_silver(spark, table).collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == [1, 2, 3, 4]  # no duplicates, nothing lost


def test_crawl_to_silver_flow_end_to_end_and_idempotent(spark, tmp_path):
    """The full crawl chain as one orchestrated flow: WET shards →
    parse → quality/dedup admission → incremental tokenized silver →
    stats. A second tick over the SAME shards must converge to a
    no-op (same doc_ids re-derived, anti-joined away, identical
    stats) — the crash-retry / double-schedule contract."""
    from energy_data_pipeline_spark.jobs.corpus_ingest import (
        crawl_to_silver_flow,
    )
    from energy_data_pipeline_spark.sources.wet import render_wet

    good_a = (
        "the quick brown fox jumps over the lazy dog while the "
        "patient cat watches from the warm windowsill nearby"
    )
    good_b = (
        "a second document about the weather today which was mild "
        "and sunny with a light breeze from the north all afternoon"
    )
    shard1 = [
        {
            "warc_type": "conversion",
            "record_id": "<urn:uuid:a>",
            "target_uri": "https://example.com/a",
            "warc_date": "2024-01-01T00:00:01Z",
            "text": good_a,
        },
        {
            "warc_type": "conversion",
            "record_id": "<urn:uuid:short>",
            "target_uri": "https://example.com/short",
            "warc_date": "2024-01-01T00:00:02Z",
            "text": "too short",  # fails the quality gate
        },
    ]
    shard2 = [
        {
            "warc_type": "conversion",
            "record_id": "<urn:uuid:b>",
            "target_uri": "https://example.org/b",
            "warc_date": "2024-01-01T00:00:03Z",
            "text": good_b,
        },
        {
            # same CONTENT as shard1's record under a different uri:
            # survives in-batch keep-first only once via fingerprint
            "warc_type": "conversion",
            "record_id": "<urn:uuid:a2>",
            "target_uri": "https://mirror.example.com/a",
            "warc_date": "2024-01-01T00:00:04Z",
            "text": good_a,
        },
    ]
    wet_dir = tmp_path / "wet"
    wet_dir.mkdir()
    (wet_dir / "shard1.warc.wet").write_bytes(render_wet(shard1))
    (wet_dir / "shard2.warc.wet").write_bytes(render_wet(shard2))
    corpus = str(tmp_path / "corpus")
    silver = str(tmp_path / "silver")

    flow = crawl_to_silver_flow(
        spark, str(wet_dir), corpus, silver, batch_id="b1"
    )
    r1 = flow.run()
    assert r1["status"] == "OK"
    admit = r1["results"]["admit"]
    assert admit["arrived"] == 4
    assert admit["failed_quality"] == 1
    assert admit["dup_in_batch"] == 1  # the mirrored content
    assert admit["admitted"] == 2
    stats1 = r1["results"]["stats"]
    assert stats1["n_docs"] == 2 and stats1["n_tokens"] > 20

    # tick 2 over the same shards: everything anti-joins away
    flow2 = crawl_to_silver_flow(
        spark, str(wet_dir), corpus, silver, batch_id="b2"
    )
    r2 = flow2.run()
    assert r2["status"] == "OK"
    assert r2["results"]["admit"]["admitted"] == 0
    assert r2["results"]["tokenize"]["tokenized"] == 0
    assert r2["results"]["stats"] == stats1


def test_bpe_merge_table_commit_roundtrip_and_lineage(spark, tmp_path):
    """The tokenizer model commits like any other artifact: train ->
    manifest publish -> read back in training order -> apply. The
    committed-model tokenization must segment identically to the
    catalog's in-process memoized model (one lineage across
    processes), and a deterministic retrain republishes identical
    content at a bumped version."""
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.jobs import bpe_model
    from energy_data_pipeline_spark.plans.catalog_corpus import (
        BPE_MERGES,
        _bpe_segmented_vocab,
        _doc_token_counts,
    )

    sf = "/root/testdata/sf0.001"
    table = str(tmp_path / "bpe_merges")
    vocab = (
        _doc_token_counts(spark, sf)
        .groupBy("w")
        .agg(F.sum("n").alias("freq"))
    )
    s = bpe_model.train_and_commit_merges(spark, vocab, table, BPE_MERGES)
    assert s["version"] == 0 and s["n_merges"] > 0
    merges = bpe_model.read_merges(spark, table)
    assert len(merges) == s["n_merges"]
    assert all(isinstance(a, str) and isinstance(b, str) for a, b in merges)

    # committed-model inference == the catalog's memoized model
    via_committed = {
        r["w"]: list(r["syms"])
        for r in bpe_model.tokenize_with_committed_merges(
            spark, vocab, table
        ).collect()
    }
    via_catalog = {
        r["w"]: list(r["syms"])
        for r in _bpe_segmented_vocab(spark, sf).collect()
    }
    assert via_committed == via_catalog

    # deterministic retrain: same merges, bumped version
    s2 = bpe_model.train_and_commit_merges(spark, vocab, table, BPE_MERGES)
    assert s2["version"] == 1
    assert bpe_model.read_merges(spark, table) == merges


def test_silver_consumption_switch_oracle_equivalence(spark, tmp_path):
    """One conf key flips the catalog's tokenized-silver frame from
    compute-on-read (tokenize bronze per snapshot) to
    read-the-committed-silver-table; every consumer query must hash
    identically both ways — same tokenizer by construction, proven
    here on three consumers spanning the silver frame, the derived
    token-count frame, and the vocab dictionary."""
    from energy_data_pipeline_spark.jobs.silver_tokenize import (
        tokenize_silver_job,
    )
    from energy_data_pipeline_spark.plans import plan_cache
    from energy_data_pipeline_spark.plans.catalog import CATALOG

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    table = str(tmp_path / "silver")
    s = tokenize_silver_job(spark, docs, table)
    assert s["tokenized"] > 0

    names = ["txt_hapax_ratio", "txt_readability_profile", "txt_lang_id"]
    base = {
        n: sorted(map(tuple, CATALOG[n][0](spark, sf).collect()))
        for n in names
    }
    # the switch is session-start config: clear the derived-frame memos
    # when flipping mid-session (documented in _doc_words_silver)
    plan_cache.clear()
    spark.conf.set("spark.energy_data_pipeline.silver.path", table)
    try:
        via_silver = {
            n: sorted(map(tuple, CATALOG[n][0](spark, sf).collect()))
            for n in names
        }
    finally:
        spark.conf.unset("spark.energy_data_pipeline.silver.path")
        plan_cache.clear()
    assert via_silver == base


def test_silver_maintenance_flow_ticks_idempotently(spark, tmp_path):
    """The maintenance flow end-to-end: tick 1 ingests + leaves a
    compact table; tick 2 over the same landing is a no-op ingest and
    a no-op compact; content is stable throughout and history is
    vacuumed to the retention bound."""
    import os

    from energy_data_pipeline_spark.jobs.silver_tokenize import (
        read_silver,
        silver_maintenance_flow,
    )
    from energy_data_pipeline_spark.sinks import manifest_table as mt

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "silver")
    schema = "doc_id long, source string, lang string, text string"
    # many small files: one per doc, so compaction has work to do
    for i in range(10):
        spark.createDataFrame(
            [(i, "web", "en", f"doc {i} alpha beta")], schema
        ).write.mode("append").parquet(landing)

    flow = silver_maintenance_flow(
        spark, landing, table, max_files=2, keep_versions=2
    )
    r1 = flow.run()
    assert r1["status"] == "OK"
    assert r1["results"]["ingest"]["tokenized"] == 10
    assert len(mt.read_manifest(table)["files"]) <= 2
    before = {
        r["doc_id"]: r["wl"] for r in read_silver(spark, table).collect()
    }
    assert len(before) == 10

    r2 = flow.run()  # same landing: everything known
    assert r2["status"] == "OK"
    assert r2["results"]["ingest"]["tokenized"] == 0
    assert r2["results"]["compact"] is None  # already compact
    after = {
        r["doc_id"]: r["wl"] for r in read_silver(spark, table).collect()
    }
    assert after == before


def test_bpe_silver_job_matches_catalog_and_idempotent(spark, tmp_path):
    """BPE-silver maintenance with the COMMITTED tokenizer: the job's
    btoks match the catalog's pinned ``_doc_bpe_tokens`` frame exactly
    (one tokenizer definition repo-wide, disk twin == in-process pin);
    a crash replay tokenizes nothing; zero-word docs still land (with
    empty btoks) so the anti-join converges."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.jobs import bpe_model
    from energy_data_pipeline_spark.jobs.silver_tokenize import (
        bpe_silver_job,
        read_bpe_silver,
    )
    from energy_data_pipeline_spark.plans.catalog_corpus import (
        BPE_MERGES,
        _doc_bpe_tokens,
        _doc_token_counts,
    )

    sf = "/root/testdata/sf0.001"
    merges_table = str(tmp_path / "merges")
    table = str(tmp_path / "bpe_silver")
    vocab = (
        _doc_token_counts(spark, sf).groupBy("w").agg(F.sum("n").alias("freq"))
    )
    bpe_model.train_and_commit_merges(spark, vocab, merges_table, BPE_MERGES)

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source", "lang", "text"
    )
    s = bpe_silver_job(spark, docs, table, merges_table)
    assert s["tokenized"] == docs.count() and s["skipped"] == 0

    got = {
        r["doc_id"]: r["btoks"]
        for r in read_bpe_silver(spark, table).collect()
    }
    expect = {
        r["doc_id"]: r["btoks"] for r in _doc_bpe_tokens(spark, sf).collect()
    }
    # catalog pin drops zero-word docs; the job keeps them as empty
    assert {k: v for k, v in got.items() if v} == expect
    for k in set(got) - set(expect):
        assert got[k] == []

    # crash replay: anti-join makes the whole batch a no-op
    s = bpe_silver_job(spark, docs, table, merges_table)
    assert s["tokenized"] == 0 and s["skipped"] == docs.count()

    # crash at the pointer flip publishes nothing
    def boom(*a, **k):
        raise OSError("injected crash at pointer flip")

    extra = spark.createDataFrame(
        [(990001, "web", "en", "alpha beta alpha"), (990002, "web", "en", " ")],
        "doc_id long, source string, lang string, text string",
    )
    with _pytest.raises(OSError, match="injected crash"):
        bpe_silver_job(spark, extra, table, merges_table, compare_and_swap=boom)
    assert read_bpe_silver(spark, table).count() == len(got)
    s = bpe_silver_job(spark, extra, table, merges_table)
    assert s["tokenized"] == 2
    rows = {
        r["doc_id"]: r["btoks"]
        for r in read_bpe_silver(spark, table)
        .filter(F.col("doc_id") >= 990000)
        .collect()
    }
    assert rows[990002] == []  # zero-word doc landed with empty btoks
    assert len(rows[990001]) >= 2


def test_bpe_silver_consumption_switch_oracle_equivalence(spark, tmp_path):
    """The BPE-level twin of the silver consumption switch: one conf
    key flips `_doc_bpe_tokens` from segment-on-read to
    read-the-committed-BPE-silver-table; trained-token consumers must
    hash identically both ways (same committed tokenizer by
    construction)."""
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.jobs import bpe_model
    from energy_data_pipeline_spark.jobs.silver_tokenize import (
        bpe_silver_job,
    )
    from energy_data_pipeline_spark.plans import plan_cache
    from energy_data_pipeline_spark.plans.catalog import CATALOG
    from energy_data_pipeline_spark.plans.catalog_corpus import (
        BPE_MERGES,
        _doc_token_counts,
    )

    sf = "/root/testdata/sf0.001"
    merges_table = str(tmp_path / "merges")
    table = str(tmp_path / "bpe_silver")
    vocab = (
        _doc_token_counts(spark, sf).groupBy("w").agg(F.sum("n").alias("freq"))
    )
    bpe_model.train_and_commit_merges(spark, vocab, merges_table, BPE_MERGES)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    s = bpe_silver_job(spark, docs, table, merges_table)
    assert s["tokenized"] > 0

    names = ["pk_bpe_packed_sequences", "smp_bpe_token_budget"]
    base = {
        n: sorted(map(tuple, CATALOG[n][0](spark, sf).collect()))
        for n in names
    }
    plan_cache.clear()
    spark.conf.set("spark.energy_data_pipeline.bpe_silver.path", table)
    try:
        via_silver = {
            n: sorted(map(tuple, CATALOG[n][0](spark, sf).collect()))
            for n in names
        }
    finally:
        spark.conf.unset("spark.energy_data_pipeline.bpe_silver.path")
        plan_cache.clear()
    assert via_silver == base


def test_manifest_schema_evolution_add_and_omit_columns(spark, tmp_path):
    """Iceberg/Delta-style add-column semantics on the manifest sink:
    an append may ADD columns (old files read NULL) or OMIT committed
    ones (new files read NULL); a same-name type change is rejected
    before staging; compaction and upsert carry the evolved schema."""
    import pytest as _pytest

    from energy_data_pipeline_spark.sinks import manifest_table as mt

    table = str(tmp_path / "evolving")
    mt.manifest_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), table
    )
    # evolve: add column w
    mt.manifest_append(
        spark.createDataFrame(
            [(2, "b", 2.5)], "id long, v string, w double"
        ),
        table,
    )
    got = {r["id"]: (r["v"], r["w"]) for r in mt.manifest_read(spark, table).collect()}
    assert got == {1: ("a", None), 2: ("b", 2.5)}
    # omit a committed column: stays in schema, reads NULL for new rows
    mt.manifest_append(spark.createDataFrame([(3,)], "id long"), table)
    got = {r["id"]: (r["v"], r["w"]) for r in mt.manifest_read(spark, table).collect()}
    assert got[3] == (None, None) and got[2] == ("b", 2.5)
    # type conflict rejected atomically (version unchanged)
    v = mt.read_manifest(table)["version"]
    with _pytest.raises(mt.SchemaEvolutionError, match="column 'v'"):
        mt.manifest_append(
            spark.createDataFrame([(4, 9)], "id long, v long"), table
        )
    assert mt.read_manifest(table)["version"] == v
    # compaction rewrites files but keeps the evolved schema pin
    m = mt.manifest_compact(spark, table, max_files=1)
    assert m is not None and m["schema"] == mt.read_manifest(table)["schema"]
    assert {r["id"] for r in mt.manifest_read(spark, table).collect()} == {1, 2, 3}
    # upsert against the evolved table keeps the full width
    mt.manifest_upsert(
        spark,
        spark.createDataFrame(
            [(1, "a2", 7.0)], "id long, v string, w double"
        ),
        table,
        keys=["id"],
    )
    got = {r["id"]: (r["v"], r["w"]) for r in mt.manifest_read(spark, table).collect()}
    assert got[1] == ("a2", 7.0) and got[3] == (None, None)


def test_manifest_schema_evolution_legacy_passthrough(spark, tmp_path):
    """A table whose live manifest predates schema recording keeps
    legacy behavior (no schema pin) instead of guessing one from a
    single append's width."""
    import json
    import os

    from energy_data_pipeline_spark.sinks import manifest_table as mt

    table = str(tmp_path / "legacy")
    mt.manifest_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), table
    )
    # simulate a pre-evolution manifest: strip the schema key in place
    with open(os.path.join(table, "_CURRENT")) as f:
        name = f.read().strip()
    mpath = os.path.join(table, "_manifests", name)
    with open(mpath) as f:
        m = json.load(f)
    del m["schema"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    s = mt.manifest_append(
        spark.createDataFrame([(2, "b")], "id long, v string"), table
    )
    assert "schema" not in s or s.get("schema") is None
    assert mt.manifest_read(spark, table).count() == 2
