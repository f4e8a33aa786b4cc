"""Unit tests for operator kernels, writers and sources — ported from the
reference's test strategy (SURVEY.md §5, tests/test_refactoring.py):
gap-run detection edge cases, spline fallback ladder, impute-pipeline
equivalence fixtures (seeded), idempotent writer replay invariants,
encoding-fallback CSV reads, CSV sniffing, and multimodal plumbing."""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from energy_data_pipeline_spark.operators.impute import (
    _spline_fill_series,
    find_consecutive_missing_groups,
    impute_missing_values,
)
from energy_data_pipeline_spark.operators import multimodal
from energy_data_pipeline_spark.sinks.writers import (
    overwrite_date_range,
    truncate_reload,
    upsert,
)
from energy_data_pipeline_spark.sources.csv_flexible import (
    is_probably_csv,
    read_csv_flexible,
)

NAN = float("nan")


# --- T2: gap-run detection (parity cases: test_refactoring.py:82-109) -----
class TestFindConsecutiveMissingGroups:
    def test_empty(self):
        assert find_consecutive_missing_groups(np.array([])) == []

    def test_no_missing(self):
        assert find_consecutive_missing_groups(np.array([1.0, 2.0])) == []

    def test_all_missing(self):
        assert find_consecutive_missing_groups(np.array([NAN, NAN, NAN])) == [(0, 3)]

    def test_single_gap(self):
        assert find_consecutive_missing_groups(
            np.array([1.0, NAN, NAN, 4.0])
        ) == [(1, 2)]

    def test_multiple_gaps(self):
        got = find_consecutive_missing_groups(
            np.array([NAN, 2.0, NAN, NAN, 5.0, NAN])
        )
        assert got == [(0, 1), (2, 2), (5, 1)]

    def test_gap_at_tail(self):
        assert find_consecutive_missing_groups(np.array([1.0, NAN])) == [(1, 1)]


# --- T3: spline fill fallback ladder (impute_missing.py:41-98) ------------
class TestSplineFill:
    def test_interior_gap_cubic(self):
        # quadratic series: cubic spline reproduces it exactly
        vals = np.array([float(i * i) for i in range(10)])
        vals[[4, 5]] = NAN
        out = _spline_fill_series(vals, short_gap_max=3)
        assert np.allclose(out[[4, 5]], [16.0, 25.0], atol=1e-8)

    def test_head_gap_linear_fallback(self):
        # no valid point before the gap → linear (np.interp clamps to edge)
        vals = np.array([NAN, NAN, 3.0, 4.0, 5.0, 6.0])
        out = _spline_fill_series(vals, short_gap_max=3)
        assert np.allclose(out[[0, 1]], [3.0, 3.0])

    def test_too_few_points_linear(self):
        vals = np.array([1.0, NAN, 3.0])  # 2 valid points < 4
        out = _spline_fill_series(vals, short_gap_max=3)
        assert np.allclose(out[1], 2.0)

    def test_long_gap_untouched(self):
        vals = np.array([1.0, NAN, NAN, NAN, NAN, 6.0])
        out = _spline_fill_series(vals, short_gap_max=3)
        assert np.isnan(out[1:5]).all()

    def test_all_nan_unchanged(self):
        vals = np.array([NAN, NAN])
        out = _spline_fill_series(vals, short_gap_max=3)
        assert np.isnan(out).all()


def _dense_not_a_knot_spline(x, y, xq):
    """Independent oracle for the engine's O(n) Thomas-solve spline
    kernel (operators/impute.py:_not_a_knot_spline): same mathematical
    interpolant, deliberately different algebraic path — the full
    tridiagonal-plus-boundary system is assembled as a DENSE n x n
    matrix and solved with np.linalg.solve, and evaluation uses the
    shifted-polynomial coefficient form (y + b*dx + c*dx^2 + d*dx^3)
    instead of the symmetric Hermite form. Any drift in the production
    kernel (index bug, boundary-fold mistake, evaluation typo) shows up
    as divergence here."""
    n = x.size
    h = np.diff(x)
    s = np.diff(y) / h
    A = np.zeros((n, n))
    rhs = np.zeros(n)
    for i in range(1, n - 1):
        A[i, i - 1] = h[i - 1]
        A[i, i] = 2.0 * (h[i - 1] + h[i])
        A[i, i + 1] = h[i]
        rhs[i] = 6.0 * (s[i] - s[i - 1])
    # not-a-knot: third-derivative continuity at x1 and x_{n-2}
    A[0, 0] = -1.0 / h[0]
    A[0, 1] = 1.0 / h[0] + 1.0 / h[1]
    A[0, 2] = -1.0 / h[1]
    A[-1, -3] = -1.0 / h[-2]
    A[-1, -2] = 1.0 / h[-2] + 1.0 / h[-1]
    A[-1, -1] = -1.0 / h[-1]
    M = np.linalg.solve(A, rhs)
    seg = np.clip(np.searchsorted(x, xq, side="right") - 1, 0, n - 2)
    dx = xq - x[seg]
    b = s[seg] - h[seg] * (2.0 * M[seg] + M[seg + 1]) / 6.0
    c = M[seg] / 2.0
    d = (M[seg + 1] - M[seg]) / (6.0 * h[seg])
    return y[seg] + b * dx + c * dx**2 + d * dx**3


class TestSplineIndependentOracle:
    """The production Thomas-solve kernel must agree with the dense
    independent solve to float-noise levels on interpolation AND
    nearest-piece extrapolation, across seeded irregular grids."""

    def test_matches_dense_solve(self):
        from energy_data_pipeline_spark.operators.impute import (
            _not_a_knot_spline,
        )

        rng = np.random.default_rng(20260813)
        for trial in range(20):
            n = int(rng.integers(4, 40))
            x = np.cumsum(rng.uniform(0.5, 3.0, size=n))
            y = rng.normal(0.0, 10.0, size=n)
            xq = np.concatenate(
                [
                    rng.uniform(x[0], x[-1], size=15),  # interior
                    x[[0, -1]],  # knots
                    [x[0] - 1.7, x[-1] + 2.3],  # extrapolation
                ]
            )
            got = _not_a_knot_spline(x, y, xq)
            want = _dense_not_a_knot_spline(x, y, xq)
            scale = max(1.0, float(np.max(np.abs(want))))
            diff = float(np.max(np.abs(got - want))) / scale
            assert diff <= 1e-9, f"trial {trial}: divergence {diff:.2e}"


# --- T5: pipeline equivalence fixture (test_refactoring.py:209-262) -------
def test_impute_pipeline_fills_both_gap_classes(spark):
    rng = np.random.default_rng(123)
    rows = []
    for s in ("stA", "stB", "stC"):
        base = rng.uniform(5, 15)
        for h in range(72):
            ta = base + 5 * np.sin(h / 24 * 2 * np.pi) + rng.normal(0, 0.3)
            rows.append((s, dt.datetime(2024, 5, 1) + dt.timedelta(hours=h), float(ta)))
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["stnNm", "tm", "ta"])
    # short gap (len 2 → spline path) and long gap (len 5 → historical path)
    for s in ("stA", "stB", "stC"):
        idx = pdf.index[pdf["stnNm"] == s]
        pdf.loc[idx[10:12], "ta"] = np.nan
        pdf.loc[idx[40:45], "ta"] = np.nan
    df = spark.createDataFrame(pdf).withColumn("tm", F.col("tm").cast("timestamp_ntz"))

    out = impute_missing_values(df, ts_col="tm", value_cols=["ta"], keys=["stnNm"])
    assert out.filter("ta IS NULL").count() == 0
    assert out.count() == df.count()
    # filled values stay within a sane envelope of the signal
    stats = out.agg(F.min("ta"), F.max("ta")).collect()[0]
    assert -20 < stats[0] and stats[1] < 40


# --- K4/K5/K6: writer replay invariants -----------------------------------
def _events_slice(spark, day: int, n: int, value: float):
    return spark.createDataFrame(
        [
            (day * 1000 + i, dt.datetime(2024, 6, day, i % 24), float(value))
            for i in range(n)
        ],
        "event_id long, ts timestamp_ntz, value double",
    )


def test_overwrite_date_range_replays_idempotently(spark, tmp_path):
    path = str(tmp_path / "t")
    overwrite_date_range(_events_slice(spark, 1, 24, 1.0), path, ts_col="ts")
    overwrite_date_range(_events_slice(spark, 2, 24, 1.0), path, ts_col="ts")
    assert spark.read.parquet(path).count() == 48
    # replay day 2 with corrected values: only day 2 replaced
    overwrite_date_range(_events_slice(spark, 2, 20, 9.0), path, ts_col="ts")
    out = spark.read.parquet(path)
    assert out.count() == 44
    assert out.filter("value = 9.0").count() == 20
    assert out.filter("value = 1.0").count() == 24


def test_upsert_key_collision_and_scope(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert(spark, _events_slice(spark, 1, 10, 1.0), path, keys=["event_id"])
    # second batch: 5 colliding keys (new values win) + 5 new
    batch2 = spark.createDataFrame(
        [
            (1000 + i, dt.datetime(2024, 6, 1, i % 24), 7.0)
            for i in range(5, 15)
        ],
        "event_id long, ts timestamp_ntz, value double",
    )
    n = upsert(spark, batch2, path, keys=["event_id"])
    assert n == 15
    out = spark.read.parquet(path)
    assert out.filter("value = 7.0").count() == 10
    assert out.groupBy("event_id").count().filter("count > 1").count() == 0


def test_upsert_recovers_from_crashed_swap(spark, tmp_path):
    import os

    from energy_data_pipeline_spark.sinks.writers import upsert

    path = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    upsert(spark, df1, path, keys=["k"])

    # crash window 1: between the two renames — the live table was moved
    # to its backup and the writer died; plus a stale staging dir
    os.rename(path, path + "__old_deadbeef")
    os.makedirs(path + "__staging_deadbeef")
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    upsert(spark, df2, path, keys=["k"])
    rows = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert rows == {(1, "a"), (2, "B"), (3, "c")}  # backup data survived
    assert not os.path.exists(path + "__old_deadbeef")
    assert not os.path.exists(path + "__staging_deadbeef")

    # crash window 2: after the swap, before backup cleanup — a dangling
    # backup next to a live table must be deleted, not restored
    os.makedirs(path + "__old_stale")
    upsert(spark, df1.limit(0), path, keys=["k"])
    assert not os.path.exists(path + "__old_stale")
    rows2 = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert rows2 == rows


def test_truncate_reload(spark, tmp_path):
    path = str(tmp_path / "t")
    truncate_reload(_events_slice(spark, 1, 10, 1.0), path)
    truncate_reload(_events_slice(spark, 2, 3, 2.0), path)
    out = spark.read.parquet(path)
    assert out.count() == 3
    assert out.agg(F.min("value")).collect()[0][0] == 2.0


# --- S1: encoding-fallback CSV + sniffing ---------------------------------
def test_read_csv_flexible_cp949(spark, tmp_path):
    p = tmp_path / "kr.csv"
    content = "발전소명, 1시 발전량(KWh),  2시   발전량(KWh)\n한림, 1.5, 2.5\n"
    p.write_bytes(content.encode("cp949"))
    df = read_csv_flexible(spark, str(p))
    assert df.columns == ["발전소명", "1시 발전량(KWh)", "2시 발전량(KWh)"]
    row = df.collect()[0]
    assert row["발전소명"] == "한림"
    assert row["1시 발전량(KWh)"] == "1.5"


def test_read_csv_flexible_utf8_sig(spark, tmp_path):
    p = tmp_path / "bom.csv"
    p.write_bytes("﻿a,b\n1,2\n".encode("utf-8"))
    df = read_csv_flexible(spark, str(p))
    assert df.columns == ["a", "b"]


def test_is_probably_csv():
    assert is_probably_csv(b"a,b,c\n1,2,3\n4,5,6\n" * 3)
    assert not is_probably_csv(b"<html><body>error page</body></html>")
    assert not is_probably_csv(b"short")
    assert not is_probably_csv(b"no delimiters here just words " * 3)


# --- multimodal plumbing ---------------------------------------------------
def test_multimodal_feature_extract_deterministic(spark):
    media = multimodal.synthetic_media(spark, n=30)
    feats = multimodal.extract_features(media, fake=True, dim=8)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 30
    for r in rows.values():
        assert len(r["feature"]) == 8
        assert all(0.0 <= v < 1.0 for v in r["feature"])
    # determinism: same payload → same features
    again = {r["media_id"]: r for r in multimodal.extract_features(media, fake=True).collect()}
    assert all(again[k]["feature"] == rows[k]["feature"] for k in rows)


def test_multimodal_real_decode_is_stubbed():
    # in this sandbox no media library exists → demanding the real
    # kernel raises; MissingMediaLibrary subclasses NotImplementedError
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"\x00")


def test_multimodal_capability_probe_and_auto_degrade(spark):
    caps = multimodal.media_capabilities()
    assert {"image", "audio", "video"} <= set(caps)
    assert {k for k in caps if k.startswith("builtin:")} == {
        "builtin:pnm",
        "builtin:wav",
    }
    lib_caps = {k: v for k, v in caps.items() if not k.startswith("builtin:")}
    if any(lib_caps.values()):  # pragma: no cover - libs-present cluster image
        pytest.skip("media libraries present; auto mode uses real kernels")
    media = multimodal.synthetic_media(spark, n=12)
    # fake=None (auto) degrades to the fake kernel without raising and
    # matches the pinned-fake output bit for bit
    auto = {r["media_id"]: r["feature"]
            for r in multimodal.extract_features(media, fake=None).collect()}
    pinned = {r["media_id"]: r["feature"]
              for r in multimodal.extract_features(media, fake=True).collect()}
    assert auto == pinned
    # fake=False (demand real) must fail loudly on a libs-free worker
    with pytest.raises(Exception, match="MissingMediaLibrary|no decoder"):
        multimodal.extract_features(media, fake=False).collect()


def _wav_bytes(samples, framerate=8000, nch=1):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def test_builtin_wav_kernel_rms_blocks():
    # 8 blocks of 100 constant-amplitude samples → per-block RMS is the
    # block's amplitude; no media library involved (stdlib wave + numpy)
    samples = np.concatenate(
        [np.full(100, i * 4096, dtype="<i2") for i in range(8)]
    )
    feat = multimodal.decode_real(_wav_bytes(samples), kind="audio", dim=8)
    assert np.allclose(feat, np.arange(8) * 4096 / 32768.0, atol=1e-12)


def test_builtin_wav_stereo_monomix():
    # stereo: left = half scale, right = silence → mono mix RMS = 0.25
    inter = np.zeros(128, dtype="<i2")
    inter[0::2] = 16384
    feat = multimodal.decode_real(_wav_bytes(inter, nch=2), kind="audio", dim=4)
    assert np.allclose(feat, 0.25, atol=1e-12)


def _wav_riff_bytes(
    data: bytes, fmt_tag: int, nch: int = 1, bits: int = 8,
    extensible: bool = False,
) -> bytes:
    """Hand-built RIFF/WAVE container for formats the stdlib wave
    module cannot write (µ-law, A-law, IEEE float, EXTENSIBLE)."""
    import struct as _s

    rate = 8000
    ba = nch * bits // 8
    if extensible:
        fmt = _s.pack(
            "<HHIIHH", 0xFFFE, nch, rate, rate * ba, ba, bits
        ) + _s.pack("<HHI", 22, bits, 1) + _s.pack("<H", fmt_tag) + b"\x00" * 14
    else:
        fmt = _s.pack("<HHIIHH", fmt_tag, nch, rate, rate * ba, ba, bits)
    chunks = b"fmt " + _s.pack("<I", len(fmt)) + fmt + (b"\x00" if len(fmt) & 1 else b"")
    chunks += b"data" + _s.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")
    return b"RIFF" + _s.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_builtin_wav_g711_tables_match_audioop():
    # audioop is an INDEPENDENT G.711 implementation (stdlib C module):
    # every one of the 256 µ-law and A-law codes must decode to the
    # same linear value
    import audioop

    all_codes = bytes(range(256))
    mu_ref = np.frombuffer(audioop.ulaw2lin(all_codes, 2), dtype="<i2")
    a_ref = np.frombuffer(audioop.alaw2lin(all_codes, 2), dtype="<i2")
    assert np.array_equal(multimodal._g711_mulaw_table(), mu_ref.astype("i4"))
    assert np.array_equal(multimodal._g711_alaw_table(), a_ref.astype("i4"))


def test_builtin_wav_mulaw_and_alaw_payloads():
    # constant-amplitude µ-law/A-law streams → flat per-block RMS equal
    # to the decoded amplitude
    import audioop

    pcm = np.full(800, 8192, dtype="<i2").tobytes()
    for tag, enc in ((7, audioop.lin2ulaw), (6, audioop.lin2alaw)):
        coded = enc(pcm, 2)
        payload = _wav_riff_bytes(coded, tag)
        feat = multimodal.decode_real(payload, kind="audio", dim=4)
        decoded = (multimodal._g711_mulaw_table() if tag == 7
                   else multimodal._g711_alaw_table())
        level = abs(decoded[coded[0]]) / 32768.0
        assert np.allclose(feat, level, atol=1e-12)


def test_builtin_wav_float32_and_extensible():
    samples = np.concatenate(
        [np.full(100, 0.25, dtype="<f4"), np.full(100, 0.5, dtype="<f4")]
    )
    payload = _wav_riff_bytes(samples.tobytes(), 3, bits=32)
    feat = multimodal.decode_real(payload, kind="audio", dim=2)
    assert np.allclose(feat, [0.25, 0.5], atol=1e-12)
    # EXTENSIBLE wrapper resolving to µ-law via the SubFormat tag
    import audioop

    coded = audioop.lin2ulaw(np.full(400, 4096, dtype="<i2").tobytes(), 2)
    ext = _wav_riff_bytes(coded, 7, extensible=True)
    feat2 = multimodal.decode_real(ext, kind="audio", dim=2)
    assert feat2[0] == feat2[1] > 0.1


def test_builtin_wav_unknown_format_raises():
    with pytest.raises(ValueError, match="format tag"):
        multimodal.decode_real(
            _wav_riff_bytes(b"\x00" * 64, 2), kind="audio", dim=4
        )  # ADPCM (tag 2) is not decodable by the builtin


def test_builtin_pnm_kernel_column_means():
    # 8×8 grayscale gradient (column j = j*32), with a header comment —
    # the builtin P5 parser must skip it; feature = column means / 255
    arr = np.tile((np.arange(8) * 32).astype("u1"), (8, 1))
    payload = b"P5\n# synthetic gradient\n8 8\n255\n" + arr.tobytes()
    feat = multimodal.decode_real(payload, kind="image", dim=8)
    assert np.allclose(feat, np.arange(8) * 32 / 255.0, atol=1e-12)


def test_builtin_pnm_rgb_and_resample():
    # 16×16 P6 where every pixel is (60, 120, 180) → grayscale 120
    # everywhere; area-resample to 8×8 keeps it exactly
    raster = np.tile(np.array([60, 120, 180], dtype="u1"), (16, 16, 1))
    payload = b"P6 16 16 255\n" + raster.tobytes()
    feat = multimodal.decode_real(payload, kind="image", dim=8)
    assert np.allclose(feat, 120.0 / 255.0, atol=1e-12)


def test_auto_mode_routes_builtin_rows_real_others_fake(spark):
    # one decodable WAV row + one opaque-bytes row of each kind: auto
    # mode must decode the WAV with the real kernel and degrade the
    # opaque rows to the fake — per-row, in one mapInPandas pass
    wav = _wav_bytes(np.full(800, 8192, dtype="<i2"))
    rows = [
        (1, "audio", "wav", None, None, 100, bytearray(wav)),
        (2, "audio", "opus", None, None, 100, bytearray(b"\x01\x02junk")),
        (3, "image", "png", 4, 4, None, bytearray(b"\x89PNGjunk")),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(media, fake=None, dim=4).collect()
    }
    assert np.allclose(got[1], multimodal.decode_real(wav, "audio", 4))
    assert got[2] == multimodal._fake_decode(b"\x01\x02junk", 4).tolist()
    assert got[3] == multimodal._fake_decode(b"\x89PNGjunk", 4).tolist()


def test_frame_sample_plan_counts(spark):
    media = multimodal.synthetic_media(spark, n=30)
    plan = multimodal.frame_sample_plan(media, every_ms=500)
    counts = {
        r["media_id"]: r["n"]
        for r in plan.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    durations = {
        r["media_id"]: r["duration_ms"]
        for r in media.filter("kind = 'video'").collect()
    }
    assert set(counts) == set(durations)
    for mid, n in counts.items():
        assert n == (durations[mid] - 1) // 500 + 1


def test_multimodal_resize_contract(spark):
    media = multimodal.synthetic_media(spark, n=30)
    out = multimodal.resize_images(media, target_w=8, target_h=4)
    rows = out.collect()
    assert len(rows) == 30
    for r in rows:
        if r["kind"] == "image":
            assert r["width"] == 8 and r["height"] == 4
            assert len(r["payload"]) == 32
        else:  # non-images untouched
            assert r["width"] is None
    # determinism
    again = multimodal.resize_images(media, target_w=8, target_h=4).collect()
    a = {r["media_id"]: bytes(r["payload"]) for r in rows}
    b = {r["media_id"]: bytes(r["payload"]) for r in again}
    assert a == b


def test_kmeans_lloyd_improves_inertia(spark, sf_small):
    from energy_data_pipeline_spark.operators import ivf
    from energy_data_pipeline_spark.sources import load_table
    import numpy as np

    emb = load_table(spark, sf_small, "embeddings")
    vecs = np.array([[float(x) for x in r["embedding"]] for r in emb.collect()])

    def inertia(cents):
        c = np.array(cents)
        d = ((vecs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d.min(axis=1).sum()

    seeded = ivf.seed_centroids(emb, "vec_id", "embedding")
    trained = ivf.kmeans_lloyd(emb, iterations=3)
    assert len(trained) == ivf.N_CELLS
    assert inertia(trained) < inertia(seeded)
    # trained quantizer still serves exact-cosine top-k search
    out = ivf.ivf_topk(emb, emb.filter("vec_id < 3"), trained, k=3)
    got = out.collect()
    assert len(got) == 9


def test_kmeans_lloyd_minibatch_deterministic_and_improves(spark, sf_small):
    """Mini-batch Lloyd (the >=1M-vector scale path): hash-selected
    per-round subsets must be fully deterministic (same centroids on
    re-run — no RNG, no run-order dependence) and must still reduce
    inertia vs the seeds."""
    import numpy as np

    from energy_data_pipeline_spark.operators import ivf
    from energy_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    vecs = np.array([[float(x) for x in r["embedding"]] for r in emb.collect()])

    def inertia(cents):
        c = np.array(cents)
        d = ((vecs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d.min(axis=1).sum()

    seeded = ivf.seed_centroids(emb, "vec_id", "embedding")
    mb1 = ivf.kmeans_lloyd(emb, iterations=3, sample_fraction=0.5)
    mb2 = ivf.kmeans_lloyd(emb, iterations=3, sample_fraction=0.5)
    assert mb1 == mb2
    assert inertia(mb1) < inertia(seeded)


def test_pq_train_minibatch_deterministic(spark, sf_small):
    from energy_data_pipeline_spark.operators import pq
    from energy_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    c1 = pq.pq_train(emb, "vec_id", "embedding", sample_fraction=0.5)
    c2 = pq.pq_train(emb, "vec_id", "embedding", sample_fraction=0.5)
    assert c1 == c2
    # full-batch and mini-batch agree on shape, not necessarily values
    full = pq.pq_train(emb, "vec_id", "embedding")
    assert len(c1) == len(full) and len(c1[0]) == len(full[0])


# --- §1.3 schema-alias resolution -----------------------------------------
def test_resolve_columns_alias_fallbacks(spark):
    from energy_data_pipeline_spark.sources.schema_resolve import (
        PV_ALIASES,
        WEATHER_ALIASES,
        resolve_columns,
    )

    df = spark.createDataFrame(
        [("2024-01-01", "seoul", 1.0)], "date string, station_name string, ta double"
    )
    out = resolve_columns(df, WEATHER_ALIASES, required=["tm", "stnNm"])
    assert set(out.columns) == {"tm", "stnNm", "ta"}

    # canonical already present: untouched; extra columns pass through
    df2 = spark.createDataFrame([("x", 1.0)], "tm string, ta double")
    out2 = resolve_columns(df2, WEATHER_ALIASES)
    assert out2.columns == ["tm", "ta"]

    # missing required -> error listing the candidate chain
    df3 = spark.createDataFrame([(1.0,)], "ta double")
    with pytest.raises(ValueError, match="tried"):
        resolve_columns(df3, WEATHER_ALIASES, required=["tm"])

    # Korean PV fallback (발전구분 -> 발전소명)
    df4 = spark.createDataFrame([("solar", 1.0)], "`발전구분` string, v double")
    out4 = resolve_columns(df4, PV_ALIASES)
    assert "발전소명" in out4.columns


# --- as-of join edge semantics --------------------------------------------
def test_asof_join_semantics(spark):
    from energy_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, "u", "2024-01-01 10:00:00"),   # tie with right at 10:00
            (2, "u", "2024-01-01 11:30:00"),   # between rights
            (3, "u", "2024-01-01 08:00:00"),   # before any right
            (4, "w", "2024-01-01 12:00:00"),   # key with no rights
        ],
        "id long, k string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = spark.createDataFrame(
        [
            ("u", "2024-01-01 09:00:00", 9.0),
            ("u", "2024-01-01 10:00:00", 10.0),
            ("u", "2024-01-01 11:00:00", 11.0),
        ],
        "k string, ts string, rv double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    out = {
        r["id"]: r["rv_asof"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts", value_cols=["rv"]
        ).collect()
    }
    assert out == {1: 10.0, 2: 11.0, 3: None, 4: None}

    # tolerance: a right row older than 30 min is too stale
    out_tol = {
        r["id"]: r["rv_asof"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            value_cols=["rv"], tolerance_seconds=1800,
        ).collect()
    }
    assert out_tol == {1: 10.0, 2: 11.0, 3: None, 4: None}
    out_tight = {
        r["id"]: r["rv_asof"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            value_cols=["rv"], tolerance_seconds=60,
        ).collect()
    }
    assert out_tight == {1: 10.0, 2: None, 3: None, 4: None}


def test_asof_join_null_valued_right_row_advances_clock(spark):
    # ASOF semantics: the match is the latest prior RIGHT ROW, even when
    # its value is NULL — an older non-NULL value must not leak through,
    # and freshness is judged against the matched row's timestamp.
    from energy_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", "2024-01-01 10:30:00"),   # latest prior right has NULL value
         (2, "u", "2024-01-01 09:30:00")],  # latest prior right is 9.0
        "id long, k string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = spark.createDataFrame(
        [("u", "2024-01-01 09:00:00", 9.0),
         ("u", "2024-01-01 10:00:00", None)],
        "k string, ts string, rv double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    for tol in (None, 1800):
        out = {
            r["id"]: r["rv_asof"]
            for r in asof_join(
                left, right, on=["k"], left_ts="ts", right_ts="ts",
                value_cols=["rv"], tolerance_seconds=tol,
            ).collect()
        }
        # id=1: matched row is (10:00, NULL) — 30 min old, inside
        # tolerance, value NULL; the desync bug returned 9.0 here
        assert out == {1: None, 2: 9.0}, f"tolerance={tol}"


# --- deterministic sampling ------------------------------------------------
def test_hash_bucket_matches_python_md5(spark):
    import hashlib

    from energy_data_pipeline_spark.operators.sampling import (
        HASH_MOD,
        hash_bucket,
    )

    df = spark.createDataFrame([(7,), (123456,)], "doc_id long")
    got = {
        r["doc_id"]: r["b"]
        for r in df.select("doc_id", hash_bucket("doc_id", seed="s").alias("b")).collect()
    }
    for k in (7, 123456):
        want = int(hashlib.md5(f"s{k}".encode()).hexdigest()[:8], 16) % HASH_MOD
        assert got[k] == want


def test_train_val_test_split_stable_under_repartition(spark):
    from energy_data_pipeline_spark.operators.sampling import (
        train_val_test_split,
    )

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(df, "doc_id").collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(df.repartition(7), "doc_id").collect()
    }
    assert a == b  # rand()-based sampling fails exactly this property
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 5000 - 0.8) < 0.03
    assert abs(c["val"] / 5000 - 0.1) < 0.02
    assert abs(c["test"] / 5000 - 0.1) < 0.02


def test_stratified_sample_drops_unlisted_strata(spark):
    from energy_data_pipeline_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "keep" if i % 2 else "drop") for i in range(200)],
        "doc_id long, lang string",
    )
    out = stratified_sample(df, "lang", "doc_id", {"keep": 1.0})
    rows = out.collect()
    assert all(r["lang"] == "keep" for r in rows)
    assert len(rows) == 100  # rate 1.0 keeps every row of the stratum


# --- near-dup guards: hot-shingle cap + simhash empty docs ---
def test_ngram_jaccard_hot_shingle_cap_bounds_bucket(spark):
    from energy_data_pipeline_spark.operators.neardup import ngram_jaccard_pairs

    # 10 identical docs: their one shingle has df=10. With the cap below
    # df, the viral shingle leaves the index → zero pairs survive; the
    # uncapped run would emit all 45 pairs at jaccard 1.0.
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)], "doc_id long, text string"
    )
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_doc_freq=5
    )
    assert capped.count() == 0
    uncapped = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_doc_freq=None
    )
    assert uncapped.count() == 45


def test_simhash_ignores_empty_docs_and_keeps_near_identical(spark):
    from energy_data_pipeline_spark.operators.neardup import (
        SIMHASH_BLOCKS,
        simhash_near_dups,
        simhash_sigs,
    )

    text = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sleepy badgers watch from the fence and count passing clouds"
    )
    docs = spark.createDataFrame(
        [
            (0, text),
            (1, text + " extra"),       # near-identical → low hamming
            (2, ""),                    # empty: no signature, no pairs
            (3, "   \t  "),             # whitespace-only: ditto
            (4, "completely different words about submarine volcanoes "
                "erupting under antarctic ice shelves last winter"),
        ],
        "doc_id long, text string",
    )
    sigs = simhash_sigs(docs, "doc_id", "text")
    assert set(sigs.columns) == {"doc_id"} | {
        f"blk_{j}" for j in range(SIMHASH_BLOCKS)
    }
    assert {r["doc_id"] for r in sigs.collect()} == {0, 1, 4}

    pairs = simhash_near_dups(docs, "doc_id", "text", max_hamming=3).collect()
    ids = {(r["id1"], r["id2"]) for r in pairs}
    assert (0, 1) in ids                    # near-identical pair found
    assert all(2 not in p and 3 not in p for p in ids)  # no empty-doc clique


# --- connected components (pairs → dedup clusters) ---
def test_connected_components_chain_triangle_isolated(spark):
    from energy_data_pipeline_spark.operators.components import (
        connected_components,
    )

    # chain a-b-c (diameter 2), triangle x-y-z, isolated pair p-q;
    # reversed/duplicate edges must not matter
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y"), ("y", "z"), ("x", "z"),
         ("q", "p"), ("a", "b")],
        "id1 string, id2 string",
    )
    got = {
        r["vertex"]: r["cluster_id"]
        for r in connected_components(pairs, "id1", "id2", small_graph_max_edges=0).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "x": "x", "y": "x", "z": "x",
        "p": "p", "q": "p",
    }


def test_connected_components_long_chain_converges(spark):
    from energy_data_pipeline_spark.operators.components import (
        connected_components,
    )

    # a 12-vertex path stresses multi-round propagation (diameter 11)
    ids = [f"v{i:02d}" for i in range(12)]
    pairs = spark.createDataFrame(
        list(zip(ids[1:], ids[:-1])), "id1 string, id2 string"
    )
    got = {
        r["vertex"]: r["cluster_id"]
        for r in connected_components(pairs, "id1", "id2", small_graph_max_edges=0).collect()
    }
    assert got == {v: "v00" for v in ids}


def test_connected_components_adversarial_diameter(spark):
    # a 41-vertex path (diameter 40 > the round budget of 25): plain
    # neighbor-min propagation would exhaust max_iter with wrong labels;
    # the pointer-jumping rounds must converge in O(log d)
    from energy_data_pipeline_spark.operators.components import (
        connected_components,
    )

    ids = [f"v{i:02d}" for i in range(41)]
    pairs = spark.createDataFrame(
        list(zip(ids[1:], ids[:-1])), "id1 string, id2 string"
    )
    got = {
        r["vertex"]: r["cluster_id"]
        for r in connected_components(pairs, "id1", "id2", max_iter=8, small_graph_max_edges=0).collect()
    }
    assert got == {v: "v00" for v in ids}


def test_connected_components_raises_on_budget_exhaustion(spark):
    import pytest

    from energy_data_pipeline_spark.operators.components import (
        ConvergenceError,
        connected_components,
    )

    ids = [f"v{i:02d}" for i in range(41)]
    pairs = spark.createDataFrame(
        list(zip(ids[1:], ids[:-1])), "id1 string, id2 string"
    )
    with pytest.raises(ConvergenceError):
        connected_components(pairs, "id1", "id2", max_iter=2, small_graph_max_edges=0)


class TestMinHashRecall:
    """Measured-recall regression for the 96-hash / 32x3-band LSH layout
    (operators/neardup.py:NUM_HASHES/BAND_ROWS).

    Seeded corpus: 60 base documents of 120 words each; 40 of them get a
    mutated twin with a word-replacement rate swept over [0.02, 0.13],
    which lands the twin-pair 3-gram Jaccard across ~[0.5, 0.9]. Ground
    truth is the exact inverted-index baseline (ngram_jaccard_pairs,
    uncapped). The banding S-curve gives P(candidate | j=0.5) ~= 98.6%
    and ~100% above j=0.6, so >=95% measured recall is the regression
    bar; the exact-verify stage makes every emitted pair true, so the
    approximate set must also be a subset of the truth set.
    """

    @staticmethod
    def _corpus():
        import random

        rng = random.Random(20260813)
        vocab = [f"w{i:04d}" for i in range(4000)]
        docs = []
        n_base, n_twins, doc_len = 60, 40, 120
        for i in range(n_base):
            words = [rng.choice(vocab) for _ in range(doc_len)]
            docs.append((i, " ".join(words)))
            if i < n_twins:
                # replacement rate swept low->high: twin jaccard ~0.9->0.5
                rate = 0.02 + 0.11 * i / (n_twins - 1)
                twin = [
                    rng.choice(vocab) if rng.random() < rate else w
                    for w in words
                ]
                docs.append((1000 + i, " ".join(twin)))
        return docs

    def test_recall_vs_exact_baseline(self, spark):
        from energy_data_pipeline_spark.operators.neardup import (
            minhash_lsh_near_dups,
            ngram_jaccard_pairs,
        )

        df = spark.createDataFrame(self._corpus(), "doc_id long, text string")
        truth = {
            (r.id1, r.id2): r.jaccard
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", threshold=0.5, max_doc_freq=None
            ).collect()
        }
        got = {
            (r.id1, r.id2): r.jaccard
            for r in minhash_lsh_near_dups(
                df, "doc_id", "text", threshold=0.5
            ).collect()
        }

        # the corpus must actually exercise the hard half of the S-curve
        assert len(truth) >= 25
        assert min(truth.values()) < 0.6 and max(truth.values()) > 0.85

        # exact-verify stage => no false positives, identical jaccard
        assert set(got) <= set(truth)
        for pair, j in got.items():
            assert j == truth[pair]

        recall = len(got) / len(truth)
        assert recall >= 0.95, f"minhash recall {recall:.3f} < 0.95"


class TestManifestTable:
    """Manifest-committed tables: visibility is a single atomic pointer
    flip — no crash point ever exposes a partial batch or an empty
    table (sinks/manifest_table.py)."""

    @staticmethod
    def _rows(spark, table, version=None):
        from energy_data_pipeline_spark.sinks.manifest_table import manifest_read

        return {
            (r["k"], r["v"]) for r in manifest_read(spark, table, version).collect()
        }

    def test_roundtrip_append_upsert_versions(self, spark, tmp_path):
        from energy_data_pipeline_spark.sinks import manifest_table as mt

        table = str(tmp_path / "t")
        df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        m0 = mt.manifest_overwrite(df1, table)
        assert m0["version"] == 0
        assert self._rows(spark, table) == {(1, "a"), (2, "b")}

        df2 = spark.createDataFrame([(3, "c")], "k long, v string")
        m1 = mt.manifest_append(df2, table)
        assert m1["version"] == 1
        assert self._rows(spark, table) == {(1, "a"), (2, "b"), (3, "c")}

        df3 = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
        m2 = mt.manifest_upsert(spark, df3, table, keys=["k"])
        assert m2["version"] == 2
        assert self._rows(spark, table) == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

        # time travel: every prior version still readable as written
        assert self._rows(spark, table, version=0) == {(1, "a"), (2, "b")}
        assert self._rows(spark, table, version=1) == {(1, "a"), (2, "b"), (3, "c")}

    def test_crashed_stage_is_invisible(self, spark, tmp_path):
        from energy_data_pipeline_spark.sinks import manifest_table as mt

        table = str(tmp_path / "t")
        df1 = spark.createDataFrame([(1, "a")], "k long, v string")
        mt.manifest_overwrite(df1, table)

        # simulate a writer that staged data files and died before
        # publishing: files exist on disk, no manifest references them
        df2 = spark.createDataFrame([(9, "ghost")], "k long, v string")
        mt._stage_data_files(df2, table)
        assert self._rows(spark, table) == {(1, "a")}  # ghost invisible

        # vacuum removes the orphans, live data untouched
        deleted = mt.vacuum(table)
        assert deleted, "orphaned staged files should be deleted"
        assert self._rows(spark, table) == {(1, "a")}

    def test_lost_update_race_rejected_by_cas(self, spark, tmp_path):
        """Two writers both snapshot version 0; the second to commit
        must get CommitConflictError from the default check-then-replace
        CAS instead of silently clobbering the first writer's commit —
        and a backend-supplied CAS callable slots into the same seam."""
        import pytest as _pytest

        from energy_data_pipeline_spark.sinks import manifest_table as mt

        table = str(tmp_path / "t")
        mt.manifest_overwrite(
            spark.createDataFrame([(1, "a")], "k long, v string"), table
        )

        # writer A snapshots the live version, stages its files...
        parent_a = mt.read_manifest(table)
        files_a = mt._stage_data_files(
            spark.createDataFrame([(2, "A")], "k long, v string"), table
        )
        # ...writer B lands a full commit meanwhile...
        mt.manifest_append(
            spark.createDataFrame([(3, "B")], "k long, v string"), table
        )
        # ...writer A's publish against the stale parent must be refused
        with _pytest.raises(mt.CommitConflictError):
            mt._publish(table, files_a, parent_a)
        # B's commit is the live one; A's staged rows never became visible
        assert self._rows(spark, table) == {(1, "a"), (3, "B")}

        # the seam: a custom CAS (e.g. catalog conditional-PUT) is used
        # instead of the default when supplied
        calls = []

        def fake_cas(current_path, tmp_path_, expected):
            calls.append(expected)
            mt._replace_if_unchanged(current_path, tmp_path_, expected)

        mt.manifest_append(
            spark.createDataFrame([(4, "c")], "k long, v string"),
            table,
            compare_and_swap=fake_cas,
        )
        assert calls, "supplied compare_and_swap callable was not used"
        assert self._rows(spark, table) == {(1, "a"), (3, "B"), (4, "c")}

    def test_group_commit_roundtrip_and_vacuum(self, spark, tmp_path):
        """Multi-table commit group: both sub-tables publish under one
        pointer flip; a crashed writer's staged files in EITHER
        sub-table are invisible and group_vacuum removes them while the
        live version's files survive."""
        from energy_data_pipeline_spark.sinks import manifest_table as mt

        root = str(tmp_path / "g")
        mt.group_append(
            {
                "corpus": spark.createDataFrame([(1, "a")], "k long, v string"),
                "index": spark.createDataFrame([(1, 7)], "k long, band int"),
            },
            root,
        )
        mt.group_append(
            {
                "corpus": spark.createDataFrame([(2, "b")], "k long, v string"),
                "index": spark.createDataFrame([(2, 9)], "k long, band int"),
            },
            root,
        )
        assert mt.group_read(spark, root, "corpus").count() == 2
        assert mt.group_read(spark, root, "index").count() == 2
        # version 0 still readable (time travel) before vacuum trims it
        assert mt.group_read(spark, root, "corpus", version=0).count() == 1

        # a writer stages into one sub-table and dies before publishing
        mt._stage_group_files(
            spark.createDataFrame([(9, "ghost")], "k long, v string"),
            root,
            "corpus",
        )
        assert mt.group_read(spark, root, "corpus").count() == 2  # invisible

        deleted = mt.group_vacuum(root)
        assert deleted, "orphans and trimmed-history files should be deleted"
        assert mt.group_read(spark, root, "corpus").count() == 2
        assert mt.group_read(spark, root, "index").count() == 2

    def test_group_overwrite_failed_stage_publishes_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        """Concurrent staging keeps the crash contract: one sub-table's
        stage fails, the error reaches the caller, the live version does
        not move, and every sub-table reads exactly as before."""
        from energy_data_pipeline_spark.sinks import manifest_table as mt

        root = str(tmp_path / "g")
        subs = ("a", "b", "c")
        mt.group_overwrite(
            {s: spark.createDataFrame([(1, s)], "k long, v string") for s in subs},
            root,
        )
        v0 = mt.read_manifest(root)["version"]
        real_stage = mt._stage_group_files

        def failing_stage(df, root_, sub):
            if sub == "b":
                raise OSError("injected staging failure")
            return real_stage(df, root_, sub)

        monkeypatch.setattr(mt, "_stage_group_files", failing_stage)
        with pytest.raises(OSError, match="injected staging failure"):
            mt.group_overwrite(
                {
                    s: spark.createDataFrame([(2, s + "2")], "k long, v string")
                    for s in subs
                },
                root,
            )
        assert mt.read_manifest(root)["version"] == v0
        for s in subs:
            rows = {tuple(r) for r in mt.group_read(spark, root, s).collect()}
            assert rows == {(1, s)}

    def test_default_cas_serializes_simultaneous_commits(self, spark, tmp_path):
        """The round-8 default CAS (O_CREAT|O_EXCL lock around the
        check->replace pair) must survive genuinely simultaneous
        commits with NO injected backend: many threads conflict-retry
        appends concurrently; at the end every writer's row is visible
        and the version chain has exactly one commit per writer — a
        lost update under the old unlocked default's TOCTOU window
        would drop a row."""
        import threading

        from energy_data_pipeline_spark.sinks import manifest_table as mt

        table = str(tmp_path / "t")
        mt.manifest_overwrite(
            spark.createDataFrame([(0, "seed")], "k long, v string"), table
        )
        n_writers = 6
        frames = [
            spark.createDataFrame([(i + 1, f"w{i}")], "k long, v string")
            for i in range(n_writers)
        ]  # built up front: Spark calls from threads are fine, but keep
        # the contended section to stage+commit only
        errors = []
        barrier = threading.Barrier(n_writers)

        def writer(i):
            barrier.wait()
            for _attempt in range(20):
                try:
                    mt.manifest_append(frames[i], table)
                    return
                except mt.CommitConflictError:
                    continue
                except Exception as e:  # pragma: no cover
                    errors.append(e)
                    return
            errors.append(RuntimeError(f"writer {i} never committed"))

        ts = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errors, errors
        assert self._rows(spark, table) == {(0, "seed")} | {
            (i + 1, f"w{i}") for i in range(n_writers)
        }
        assert mt.read_manifest(table)["version"] == n_writers

    def test_flock_race_single_entrant_with_dead_holder_file(self, tmp_path, monkeypatch):
        """At most ONE writer may ever be inside the commit critical
        section, even when a crashed holder's lock file is lying
        around. The round-9 rename-based stale-breaker failed exactly
        this invariant under whole-suite host load (a mistaken breaker
        steals a fresh holder's lock; a third waiter acquires before
        the restore) — the flock default has no break path at all: a
        dead holder's leftover lock FILE carries no kernel lock, so it
        excludes nobody, and concurrent holders are impossible by
        construction. Planted dead-holder file + many racing threads +
        an instrumented critical section assert single entry."""
        import threading

        from energy_data_pipeline_spark.sinks import manifest_table as mt

        d = tmp_path / "t"
        d.mkdir()
        current = str(d / "_CURRENT")
        lock = str(d / "._CURRENT.lock")
        with open(lock, "w") as f:
            f.write("dead-holder")
        old = time.time() - 600.0
        os.utime(lock, (old, old))

        inside = threading.Semaphore(1)
        overlaps: list[str] = []
        committed: list[int] = []
        real_replace = mt._replace_if_unchanged

        def instrumented(current_path, tmp_path_, expected):
            if not inside.acquire(blocking=False):
                overlaps.append("second writer inside critical section")
            try:
                time.sleep(0.02)  # widen the window a racing breaker needs
                real_replace(current_path, tmp_path_, expected)
            finally:
                inside.release()

        monkeypatch.setattr(mt, "_replace_if_unchanged", instrumented)

        n = 8
        barrier = threading.Barrier(n)
        errors: list[Exception] = []

        def writer(i):
            barrier.wait()
            tmp = str(d / f"_CURRENT.tmp.{i}")
            # 300 tries: under whole-suite + concurrent-Spark host load a
            # writer has lost the CAS 50 straight times (one flake in the
            # round-10 session); the bound only guards infinite loops
            for _ in range(300):
                with open(tmp, "w") as f:
                    f.write(f"m{i}")
                try:
                    expected = mt._read_current_name(str(d))
                    mt._locked_replace_if_unchanged(current, tmp, expected)
                    committed.append(i)
                    return
                except mt.CommitConflictError:
                    continue
                except Exception as e:  # pragma: no cover
                    errors.append(e)
                    return
            errors.append(RuntimeError(f"writer {i} starved"))

        ts = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errors, errors
        assert not overlaps, overlaps
        assert sorted(committed) == list(range(n))
        # the lock FILE is permanent by contract (unlinking a locked
        # path is the split-lock bug); release is the fd close
        assert os.path.exists(lock)

    def test_flock_commit_lock_contract(self, tmp_path):
        """Unit contract of the flock commit lock: (a) a held kernel
        lock makes a second writer time out with CommitConflictError
        and clean up its staged tmp pointer; (b) releasing the lock
        never unlinks the lock file (unlink would re-open the
        split-lock race); (c) a LEFTOVER lock file with no kernel lock
        (crashed holder) excludes nobody — acquisition is immediate."""
        import fcntl

        from energy_data_pipeline_spark.sinks import manifest_table as mt

        d = tmp_path / "t"
        d.mkdir()
        current = str(d / "_CURRENT")
        lock = str(d / "._CURRENT.lock")

        def commit(name: str) -> None:
            tmp = str(d / f"_CURRENT.tmp.{name}")
            with open(tmp, "w") as f:
                f.write(name)
            mt._locked_replace_if_unchanged(
                current, tmp, mt._read_current_name(str(d))
            )

        # (c) crashed holder's leftover file: no kernel lock, no wait
        with open(lock, "w") as f:
            f.write("dead-holder")
        old = time.time() - 600.0
        os.utime(lock, (old, old))
        commit("m1")
        with open(current) as f:
            assert f.read() == "m1"
        # (b) the lock file survives release
        assert os.path.exists(lock)

        # (a) a genuinely held kernel lock blocks until timeout
        holder_fd = os.open(lock, os.O_WRONLY)
        fcntl.flock(holder_fd, fcntl.LOCK_EX)
        mt_timeout = mt._LOCK_TIMEOUT_S
        mt._LOCK_TIMEOUT_S = 0.2
        try:
            with pytest.raises(mt.CommitConflictError, match="commit lock"):
                commit("m2")
            assert not os.path.exists(str(d / "_CURRENT.tmp.m2"))
        finally:
            mt._LOCK_TIMEOUT_S = mt_timeout
            os.close(holder_fd)
        # released: the next commit goes straight through
        commit("m3")
        with open(current) as f:
            assert f.read() == "m3"

    def test_vacuum_trims_history_keeps_live(self, spark, tmp_path):
        import os

        from energy_data_pipeline_spark.sinks import manifest_table as mt

        table = str(tmp_path / "t")
        for i in range(3):
            df = spark.createDataFrame([(i, f"v{i}")], "k long, v string")
            mt.manifest_overwrite(df, table)
        assert self._rows(spark, table) == {(2, "v2")}
        mt.vacuum(table, keep_versions=1)
        assert self._rows(spark, table) == {(2, "v2")}
        # old versions gone from history
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            mt.read_manifest(table, version=0)
        # no unreferenced parquet left under data/
        live = set(mt.read_manifest(table)["files"])
        on_disk = set()
        for root, _d, files in os.walk(os.path.join(table, "data")):
            for fn in files:
                if fn.endswith(".parquet"):
                    on_disk.add(os.path.relpath(os.path.join(root, fn), table))
        assert on_disk == live


def test_geocode_cascade_stage_precedence(spark):
    """Every stage of the P17 cascade plus precedence: name-dim beats
    city, city beats external, external beats default — and the
    provenance column reports the winning stage."""
    from energy_data_pipeline_spark.operators.geocode import geocode_cascade

    rows = spark.createDataFrame(
        [
            (1, "Alpha Plant", "somewhere in SEOUL"),   # name dim (exact-ish)
            (2, "Beta #3", "near BUSAN harbor"),        # city regex
            (3, "Gamma", "unit 7 TOKYO bay"),           # external resolver
            (4, "Delta", "nowhere at all"),             # default
            (5, "Alpha Plant East", "BUSAN"),           # name beats city
        ],
        "id long, name string, address string",
    )
    name_dim = spark.createDataFrame(
        [(0, "Alpha Plant", 35.0, 129.0)],
        "prio int, key string, lat double, lon double",
    )
    city_dim = spark.createDataFrame(
        [("SEOUL", 37.5, 127.0), ("BUSAN", 35.1, 129.07)],
        "city string, lat double, lon double",
    )
    resolved = spark.createDataFrame(
        [("unit 7 TOKYO bay", 35.68, 139.65)], "address string, lat double, lon double"
    )
    out = geocode_cascade(
        rows,
        "id",
        "name",
        "address",
        name_dim,
        city_dim,
        "(SEOUL|BUSAN)",
        resolved=resolved,
    )
    got = {r["id"]: (r["lat"], r["lon"], r["geocode_source"]) for r in out.collect()}
    assert got[1] == (35.0, 129.0, "name")
    assert got[2] == (35.1, 129.07, "city")
    assert got[3] == (35.68, 139.65, "external")
    assert got[4] == (35.9078, 127.7669, "default")
    # id 5: name containment (dim key inside the longer name) wins over
    # the BUSAN city hit
    assert got[5] == (35.0, 129.0, "name")


class TestPiiRedaction:
    def test_patterns_and_order(self, spark):
        from energy_data_pipeline_spark.functions import text as T
        from pyspark.sql import functions as F

        rows = [
            (0, "write to alice.smith+x@mail.example.org today"),
            (1, "server at 192.168.0.17 responded"),
            (2, "call +1-555-0123-999 now"),
            # host contains a dotted quad + TLD: email must be scrubbed
            # FIRST (scrub order is part of the contract) or the ip
            # pattern would tear the address apart
            (3, "mail carol@1.2.3.4.com now"),
            # bare-IP host has no alpha TLD -> not an email; ip wins
            (4, "ping bob@10.0.0.99 asap"),
            (5, "nothing sensitive here 1.2 3.4"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in df.select(
                "doc_id",
                T.pii_count("text", "email").alias("e"),
                T.pii_count("text", "ip").alias("i"),
                T.pii_count("text", "phone").alias("p"),
                T.redact_pii("text").alias("red"),
            ).collect()
        }
        assert (out[0]["e"], out[0]["red"]) == (1, "write to <EMAIL> today")
        assert (out[1]["i"], out[1]["red"]) == (1, "server at <IP> responded")
        assert (out[2]["p"], out[2]["red"]) == (1, "call <PHONE> now")
        # email-over-ip precedence: no leftover partial IP text
        assert out[3]["red"] == "mail <EMAIL> now"
        assert out[4]["red"] == "ping bob@<IP> asap"
        assert out[5]["red"] == "nothing sensitive here 1.2 3.4"


class TestSequencePacking:
    def test_packed_sequences_match_python_packer(self, spark):
        """The materializer vs a pure-Python concat-and-chunk reference:
        same tape content per sequence (including a doc spanning THREE
        sequence boundaries), every non-final sequence exactly seq_len
        tokens, zero tokens lost or duplicated."""
        from pyspark.sql import functions as F

        from energy_data_pipeline_spark.operators.packing import (
            packed_sequences,
        )

        L = 8
        docs = {
            1: [f"a{i}" for i in range(5)],
            2: [f"b{i}" for i in range(20)],  # spans 3+ boundaries
            3: [f"c{i}" for i in range(3)],
            4: [],  # empty doc contributes nothing
            5: [f"d{i}" for i in range(7)],
        }
        df = spark.createDataFrame(
            [(k, "web", " ".join(v)) for k, v in docs.items()],
            "doc_id long, source string, text string",
        )
        out = packed_sequences(
            df,
            "doc_id",
            F.filter(F.split("text", r"\s+"), lambda w: w != ""),
            shard_cols=["source"],
            seq_len=L,
            shard_docs=1000,
        ).collect()

        # python reference: concatenate in id order, chunk by L
        tape = [t for k in sorted(docs) for t in docs[k]]
        expected = {
            i: tape[i * L : (i + 1) * L]
            for i in range((len(tape) + L - 1) // L)
        }
        got = {r["seq_id"]: r["tokens"] for r in out}
        assert got == expected
        for r in out:
            if r["seq_id"] < max(got):
                assert r["n_tokens"] == L, r
        # n_docs counts contributors: seq 0 = docs 1 + 2
        n_docs = {r["seq_id"]: r["n_docs"] for r in out}
        assert n_docs[0] == 2

    def test_concat_and_chunk_positions(self, spark):
        from pyspark.sql import functions as F

        from energy_data_pipeline_spark.operators.packing import (
            sequence_pack_plan,
        )

        # shard A: 1500 + 1000 + 100 tokens with seq_len 1024:
        # doc0 -> (0, 0); doc1 starts at 1500 -> (1, 476); doc2 at 2500
        # -> (2, 452). shard B independent: doc3 -> (0, 0).
        rows = [
            (0, "A", 1500),
            (1, "A", 1000),
            (2, "A", 100),
            (3, "B", 7),
        ]
        df = spark.createDataFrame(rows, "doc_id long, shard string, n long")
        out = {
            r["doc_id"]: (r["seq_id"], r["seq_offset"])
            for r in sequence_pack_plan(
                df, "doc_id", F.col("n"), ["shard"], seq_len=1024
            ).collect()
        }
        assert out == {0: (0, 0), 1: (1, 476), 2: (2, 452), 3: (0, 0)}

    def test_shard_bucket_bounds_window(self, spark):
        """Docs whose ids fall in different id-range buckets pack
        independently even with identical shard columns — the bucket is
        what caps the sequential unit at scale."""
        from pyspark.sql import functions as F

        from energy_data_pipeline_spark.operators.packing import (
            sequence_pack_plan,
        )

        rows = [(0, "A", 10), (1, "A", 10), (100, "A", 10)]
        df = spark.createDataFrame(rows, "doc_id long, shard string, n long")
        out = {
            r["doc_id"]: (r["pack_shard"], r["seq_id"], r["seq_offset"])
            for r in sequence_pack_plan(
                df, "doc_id", F.col("n"), ["shard"], seq_len=16, shard_docs=100
            ).collect()
        }
        assert out[0] == (0, 0, 0)
        assert out[1] == (0, 0, 10)  # cum 10 -> same 16-token sequence
        assert out[100] == (1, 0, 0)  # new bucket restarts the tape


class TestChunking:
    def test_geometry_matches_python_reference(self, spark):
        """For every length 0..520, the engine's chunk layout equals the
        obvious single-machine reference: full coverage, stride spacing,
        overlap between consecutive chunks, short final chunk."""
        from energy_data_pipeline_spark.operators import chunking

        cs, ov = 100, 30
        stride = cs - ov
        texts = [("x" * n, n) for n in range(0, 521, 7)]
        df = spark.createDataFrame(
            [(i, t) for i, (t, _n) in enumerate(texts)], "doc_id long, text string"
        )
        out = chunking.chunk_documents(
            df, "doc_id", "text", chunk_size=cs, overlap=ov
        )
        rows = {
            (r.doc_id, r.chunk_idx): r
            for r in out.collect()
        }
        for i, (t, n) in enumerate(texts):
            exp_chunks = (
                1 if n <= cs else (n - cs + stride - 1) // stride + 1
            )
            got = [rows[(i, j)] for j in range(exp_chunks)]
            assert all(r.n_chunks == exp_chunks for r in got)
            assert (i, exp_chunks) not in rows, "extra chunk emitted"
            for j, r in enumerate(got):
                assert r.chunk_start == j * stride
                assert r.chunk_len == min(cs, max(n - j * stride, 0))
            # coverage: last chunk reaches the end of the text
            if n > 0:
                last = got[-1]
                assert last.chunk_start + last.chunk_len == n

    def test_overlap_must_be_smaller_than_chunk(self, spark):
        import pytest as _pytest

        from energy_data_pipeline_spark.operators import chunking

        df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            chunking.chunk_documents(df, "doc_id", "text", chunk_size=10, overlap=10)


def test_connected_components_paths_agree_and_gate_defaults_small(spark):
    """The driver union-find fast path (default for small edge lists)
    and the distributed hook+shortcut loop must label identically —
    same (vertex, cluster_id) rows, same schema."""
    from energy_data_pipeline_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21), (5, 5)],
        "id1 long, id2 long",
    )
    fast = connected_components(pairs, "id1", "id2")
    slow = connected_components(pairs, "id1", "id2", small_graph_max_edges=0)
    assert fast.schema == slow.schema
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )


class TestLineDedup:
    def test_boilerplate_line_kept_once_short_lines_always_kept(self, spark):
        """Crafted multi-line docs: the 6-word boilerplate line repeats
        in all three docs and survives only at its first occurrence
        (min (doc_id, idx)); short lines repeat freely; a doc that is
        ALL boilerplate keeps a row with n_lines_kept = 0."""
        import hashlib

        from energy_data_pipeline_spark.operators.linededup import (
            dedup_lines,
        )

        boiler = "all rights reserved by the site"
        docs = spark.createDataFrame(
            [
                (1, f"unique alpha text one two\n{boiler}\nhi"),
                (2, f"{boiler}\nunique beta text three four\nhi"),
                (3, boiler),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in dedup_lines(docs, "doc_id", "text").collect()}
        md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
        # doc 1: first occurrence of boiler (doc 1, idx 1) survives
        assert (rows[1].n_lines, rows[1].n_lines_kept) == (3, 3)
        assert rows[1].text_hash == md5(
            f"unique alpha text one two\n{boiler}\nhi"
        )
        # doc 2: its boiler copy drops; short "hi" stays
        assert (rows[2].n_lines, rows[2].n_lines_kept) == (3, 2)
        assert rows[2].text_hash == md5("unique beta text three four\nhi")
        # doc 3: fully boilerplate -> empty reassembly
        assert (rows[3].n_lines, rows[3].n_lines_kept) == (1, 0)
        assert rows[3].text_hash == md5("")

    def test_within_doc_duplicate_line_deduped(self, spark):
        from energy_data_pipeline_spark.operators.linededup import (
            dedup_lines,
        )

        line = "repeat me five whole words here"
        docs = spark.createDataFrame(
            [(1, f"{line}\nmiddle bit stays right here ok\n{line}")],
            "doc_id long, text string",
        )
        r = dedup_lines(docs, "doc_id", "text").collect()[0]
        assert (r.n_lines, r.n_lines_kept) == (3, 2)


class TestBloom:
    def test_no_false_negatives_and_low_fp(self, spark):
        """Every inserted key tests positive; FP rate on disjoint keys
        stays near the analytic expectation (0.1% at this load — assert
        a generous 1% bound)."""
        from energy_data_pipeline_spark.operators import bloom

        keys = spark.createDataFrame(
            [(f"member {i} key",) for i in range(2000)], "g string"
        )
        others = spark.createDataFrame(
            [(f"absent {i} key",) for i in range(2000)], "g string"
        )
        bitmap = bloom.build_bitmap(keys, "g")
        hits_in = bloom.might_contain(keys, "g", bitmap)
        assert hits_in.filter("NOT _bloom_hit").count() == 0
        fp = bloom.might_contain(others, "g", bitmap).filter("_bloom_hit").count()
        assert fp <= 20, f"{fp} false positives in 2000 (expected ~{2000 * bloom.false_positive_rate(2000):.1f})"

    def test_bitmap_is_index_sized(self, spark):
        from energy_data_pipeline_spark.operators import bloom

        keys = spark.createDataFrame([(f"k{i}",) for i in range(500)], "g string")
        assert bloom.build_bitmap(keys, "g").count() <= bloom.BLOOM_M_BITS // 64

    def test_null_keys_flag_false_and_duplicates_survive(self, spark):
        """The pure-expression rewrite must not lose rows: a NULL key is
        a member of no set (flag False, row kept — the old explode path
        dropped it entirely), and duplicate input rows pass through
        1:1 (the old explode+regroup collapsed them)."""
        from energy_data_pipeline_spark.operators import bloom

        keys = spark.createDataFrame([("present key",)], "g string")
        bitmap = bloom.build_bitmap(keys, "g")
        probe = spark.createDataFrame(
            [("present key", 1), ("present key", 2), (None, 3), (None, 4)],
            "g string, payload int",
        )
        out = bloom.might_contain(probe, "g", bitmap).collect()
        assert len(out) == 4  # nothing dropped, nothing collapsed
        by_payload = {r["payload"]: r["_bloom_hit"] for r in out}
        assert by_payload == {1: True, 2: True, 3: False, 4: False}

    def test_reserved_columns_rejected(self, spark):
        from energy_data_pipeline_spark.operators import bloom

        keys = spark.createDataFrame([("k",)], "g string")
        bitmap = bloom.build_bitmap(keys, "g")
        clash = spark.createDataFrame(
            [("k", True)], "g string, _bloom_hit boolean"
        )
        with pytest.raises(ValueError, match="_bloom_hit"):
            bloom.might_contain(clash, "g", bitmap)

    def test_wide_row_payload_is_preserved(self, spark):
        """Payload columns (e.g. full document rows) ride through the
        membership test untouched — the round-7 latent-misuse finding:
        the old implementation shuffled every payload column k times
        and collapsed duplicate rows."""
        from energy_data_pipeline_spark.operators import bloom

        keys = spark.createDataFrame([("needle",)], "g string")
        bitmap = bloom.build_bitmap(keys, "g")
        docs = spark.createDataFrame(
            [("needle", "long document text", "web", 3.14)],
            "g string, text string, source string, score double",
        )
        out = bloom.might_contain(docs, "g", bitmap).collect()
        assert out[0]["text"] == "long document text"
        assert out[0]["_bloom_hit"] is True


class TestAnnRecall:
    """Measured-recall regression for the ANN variants vs the exact
    brute-force baseline at sf0.001 (deterministic data → deterministic
    recall). IVF with nprobe=2/8 cells holds ~0.95 here; single-bucket
    sign-LSH collapses to ~0.05 on this near-uniform corpus (per-plane
    collision ~0.65 at cos~0.45 → 0.65^6) — which is exactly why the
    radius-1 multiprobe variant exists: same index, ~5-8x the recall
    for (n_planes+1)x the probed buckets."""

    @staticmethod
    def _pairs(spark, sf, name):
        from energy_data_pipeline_spark.plans.catalog import CATALOG

        return {
            (r["query_id"], r["neighbor_id"])
            for r in CATALOG[name][0](spark, sf).collect()
        }

    def test_ivf_recall_floor(self, spark, sf_small):
        truth = self._pairs(spark, sf_small, "ann_brute_force_topk")
        for name in ("ann_ivf_topk", "ann_ivf_trained_topk"):
            got = self._pairs(spark, sf_small, name)
            recall = len(got & truth) / len(truth)
            assert recall >= 0.85, f"{name} recall {recall:.3f} < 0.85"

    def test_multiprobe_beats_single_bucket(self, spark, sf_small):
        truth = self._pairs(spark, sf_small, "ann_brute_force_topk")
        single = self._pairs(spark, sf_small, "ann_lsh_topk")
        multi = self._pairs(spark, sf_small, "ann_lsh_multiprobe_topk")
        r_single = len(single & truth) / len(truth)
        r_multi = len(multi & truth) / len(truth)
        assert r_multi > r_single, (r_multi, r_single)
        # measured: 0.20 at sf0.001 vs 0.05 single-bucket (4x); the
        # floor leaves headroom for data regeneration, the RELATIVE
        # assertion above is the real invariant
        assert r_multi >= 0.15, f"multiprobe recall {r_multi:.3f} < 0.15"


class TestApproxPercentiles:
    def test_exact_while_group_fits_accuracy(self, spark, sf_small):
        """The sketch retains every value while n <= accuracy, so the
        approx twin equals the discrete exact percentile bit-for-bit at
        the tested scales (25-250 docs per source) — rel-err 0, which
        is what licenses the hash-exact quantile_disc oracle."""
        from pyspark.sql import functions as F

        from energy_data_pipeline_spark.plans.catalog_corpus import (
            LENGTH_PCTS,
            length_percentiles_approx,
        )
        from energy_data_pipeline_spark.sources import load_table

        approx = {
            r["source"]: r.asDict()
            for r in length_percentiles_approx(spark, sf_small).collect()
        }
        docs = load_table(spark, sf_small, "documents")
        exact = {
            r["source"]: r.asDict()
            for r in docs.groupBy("source")
            .agg(
                *[
                    F.expr(
                        f"percentile_disc({p}) WITHIN GROUP (ORDER BY n_chars)"
                    )
                    .cast("bigint")
                    .alias(f"p{i}")
                    for i, p in enumerate(LENGTH_PCTS)
                ]
            )
            .collect()
        }
        for src, row in approx.items():
            for i, p in enumerate(LENGTH_PCTS):
                key = f"ap{str(p).replace('0.', '').ljust(2, '0')}_chars"
                assert row[key] == exact[src][f"p{i}"], (src, p)

    def test_bounded_rank_error_beyond_accuracy(self, spark):
        """Past the accuracy bound the GK guarantee is rank error
        <= n/accuracy: with n = 50 x accuracy the p50 estimate must
        land within ~2x that rank band of the true median — the
        documented graceful-degradation regime a 100 TB profile job
        operates in."""
        from pyspark.sql import functions as F

        n, accuracy = 50_000, 1_000
        df = spark.range(n).select(F.col("id").alias("v"))
        got = df.agg(
            F.percentile_approx("v", 0.5, accuracy).alias("m")
        ).collect()[0]["m"]
        rank_band = 2 * n / accuracy
        assert abs(got - (n // 2)) <= rank_band, got


class TestPlanCacheLifecycle:
    def test_manifest_overwrite_invalidates_memo(self, spark, tmp_path):
        """The immutability contract is enforced, not assumed: a memo
        keyed on a manifest-committed table path must key-miss after a
        new commit and rebuild against the new snapshot."""
        from energy_data_pipeline_spark.plans import plan_cache
        from energy_data_pipeline_spark.sinks import manifest_table

        table = str(tmp_path / "mtab")
        manifest_table.manifest_overwrite(
            spark.createDataFrame([(1,)], "v int"), table
        )
        builds = []

        def build():
            builds.append(1)
            return manifest_table.manifest_read(spark, table), []

        plan_cache.clear()
        first = plan_cache.cached_plan(spark, ("mtest", table), build)
        assert first.collect()[0]["v"] == 1
        # same version → hit
        plan_cache.cached_plan(spark, ("mtest", table), build)
        assert len(builds) == 1
        # new commit → key miss → fresh plan over the NEW data
        manifest_table.manifest_overwrite(
            spark.createDataFrame([(2,)], "v int"), table
        )
        fresh = plan_cache.cached_plan(spark, ("mtest", table), build)
        assert len(builds) == 2
        assert fresh.collect()[0]["v"] == 2
        plan_cache.clear()

    def test_plain_dir_overwrite_invalidates_memo(self, spark, tmp_path):
        """A truncate-reload of a plain parquet directory moves the
        path's mtime, so the memo key-misses rather than serving the
        stale plan."""
        import time

        from energy_data_pipeline_spark.plans import plan_cache

        path = str(tmp_path / "ptab")
        spark.createDataFrame([(1,)], "v int").write.parquet(path)
        builds = []

        def build():
            builds.append(1)
            return spark.read.parquet(path), []

        plan_cache.clear()
        plan_cache.cached_plan(spark, ("ptest", path), build)
        plan_cache.cached_plan(spark, ("ptest", path), build)
        assert len(builds) == 1
        time.sleep(0.01)  # ensure mtime_ns moves even on coarse clocks
        # overwrite deletes and recreates the directory → new mtime
        spark.createDataFrame([(2,)], "v int").write.mode("overwrite").parquet(path)
        plan_cache.cached_plan(spark, ("ptest", path), build)
        assert len(builds) == 2
        plan_cache.clear()

    def test_snapshot_rewrite_invalidates_model_memo(self, spark, sf_small, tmp_path):
        """Memoized models and counts key on the versioned snapshot path,
        like the plan memo: replacing embeddings.parquet (write, then
        atomic rename) must recount instead of serving the stale value."""
        import shutil

        import pyarrow.parquet as pq

        from energy_data_pipeline_spark.plans.catalog_ext import _emb_count

        sf = tmp_path / "sf"
        sf.mkdir()
        for name in os.listdir(sf_small):
            shutil.copyfile(os.path.join(sf_small, name), sf / name)
        n0 = _emb_count(spark, str(sf))
        assert n0 == _emb_count(spark, str(sf)) > 1
        time.sleep(0.01)  # ensure mtime_ns moves even on coarse clocks
        staged = tmp_path / "embeddings.parquet.tmp"
        pq.write_table(pq.read_table(sf / "embeddings.parquet").slice(0, n0 // 2), staged)
        os.replace(staged, sf / "embeddings.parquet")
        assert _emb_count(spark, str(sf)) == n0 // 2

    def test_clear_and_eviction_unpersist_pins(self, spark, monkeypatch):
        """Dropping a memo entry (clear or LRU eviction) must release
        its pinned frames — the round-7 advice leak: evicted pins sat
        in the block manager with no owner."""
        from pyspark.storagelevel import StorageLevel

        from energy_data_pipeline_spark.plans import plan_cache

        plan_cache.clear()
        pinned1 = spark.range(3).persist(StorageLevel.MEMORY_AND_DISK)
        plan_cache.cached_plan(
            spark, ("evict-a",), lambda: (pinned1, [(pinned1, StorageLevel.MEMORY_AND_DISK)])
        )
        pinned1.count()
        assert pinned1.is_cached
        plan_cache.clear()
        assert not pinned1.is_cached

        monkeypatch.setattr(plan_cache, "_MAX_ENTRIES", 1)
        pinned2 = spark.range(4).persist(StorageLevel.MEMORY_AND_DISK)
        plan_cache.cached_plan(
            spark, ("evict-b",), lambda: (pinned2, [(pinned2, StorageLevel.MEMORY_AND_DISK)])
        )
        pinned2.count()
        assert pinned2.is_cached
        # inserting a second entry evicts the first → its pin released
        plan_cache.cached_plan(spark, ("evict-c",), lambda: (spark.range(5), []))
        assert not pinned2.is_cached
        plan_cache.clear()


def test_plan_cache_builds_once_under_racing_threads(spark):
    """Two threads requesting the same key concurrently must converge
    on ONE memo entry (setdefault under the lock): both may race the
    builder — it runs outside the lock because builders run Spark jobs
    — but only one result is ever registered and returned, so pins are
    re-registered against a single canonical frame."""
    import threading

    from energy_data_pipeline_spark.plans import plan_cache

    plan_cache.clear()
    builds = []
    gate = threading.Barrier(2)
    results = []

    def build():
        builds.append(1)
        return spark.range(5), []

    def worker():
        gate.wait()
        results.append(
            plan_cache.cached_plan(spark, ("race-test",), build)
        )

    ts = [threading.Thread(target=worker) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    # setdefault under the lock keeps one entry even if both built
    assert results[0] is results[1]
    assert results[0].count() == 5
    plan_cache.clear()


# --- containment vs jaccard: the superset case ---
def test_containment_catches_superset_jaccard_misses(spark):
    from energy_data_pipeline_spark.operators.neardup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(45))
    docs = spark.createDataFrame(
        [(1, base), (2, base + " " + filler)], "doc_id long, text string"
    )
    # doc 1 has 3 shingles, all contained in doc 2's 48 → containment
    # 1.0, jaccard 3/48 = 0.0625: the doc-in-doc pair only containment
    # surfaces.
    got = containment_pairs(docs, "doc_id", "text", threshold=0.9).collect()
    assert [(r["id1"], r["id2"], r["containment"]) for r in got] == [(1, 2, 1.0)]
    assert (
        ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).count() == 0
    )


def test_containment_respects_hot_shingle_cap(spark):
    from energy_data_pipeline_spark.operators.neardup import containment_pairs

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)], "doc_id long, text string"
    )
    assert (
        containment_pairs(
            docs, "doc_id", "text", threshold=0.5, max_doc_freq=5
        ).count()
        == 0
    )
    assert (
        containment_pairs(
            docs, "doc_id", "text", threshold=0.5, max_doc_freq=None
        ).count()
        == 45
    )


# --- quality-aware dedup winner: argmax policy, not min-id ---
def test_quality_winner_purged_keeps_argmax_quality(spark, sf_small):
    import collections

    from energy_data_pipeline_spark.plans import catalog_corpus as cc

    labels = cc._cc_labels(spark, sf_small).collect()
    quality = {
        r["doc_id"]: r["quality"]
        for r in cc.quality_scores(spark, sf_small).collect()
    }
    survivors = {
        r["doc_id"]
        for r in cc.quality_winner_purged_corpus(spark, sf_small).collect()
    }
    clusters = collections.defaultdict(list)
    for r in labels:
        clusters[r["cluster_id"]].append(r["vertex"])
    assert clusters, "fixture should contain near-dup clusters"
    for members in clusters.values():
        best = min(members, key=lambda d: (-quality[d], d))
        assert [d for d in members if d in survivors] == [best]
    # exactly one survivor per cluster; every non-member survives
    member_set = {r["vertex"] for r in labels}
    total = spark.read.parquet(f"{sf_small}/documents.parquet").count()
    assert len(survivors) == total - (len(member_set) - len(clusters))


# --- BM25: ranking shape + saturation sanity ---
def test_bm25_topk_ranks_and_saturates(spark, sf_small):
    from energy_data_pipeline_spark.plans.catalog_corpus import (
        BM25_K1,
        BM25_TOPK,
        bm25_topk,
    )

    rows = bm25_topk(spark, sf_small).collect()
    assert 0 < len(rows) <= BM25_TOPK
    keys = [(-r["bm25"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)
    assert all(r["bm25"] > 0 for r in rows)
    # per-term contribution is bounded by idf * (k1 + 1): tf saturation
    # means a term-stuffed doc cannot score past that asymptote
    import math

    n_docs = spark.read.parquet(f"{sf_small}/documents.parquet").count()
    max_idf = math.log(1 + (n_docs - 1 + 0.5) / (1 + 0.5))
    assert all(r["bm25"] <= 3 * max_idf * (BM25_K1 + 1) for r in rows)


# --- bigram LM score: conditional log-probs are non-positive ---
def test_bigram_logprob_bounds(spark, sf_small):
    from energy_data_pipeline_spark.plans.catalog_corpus import bigram_logprob

    rows = bigram_logprob(spark, sf_small).collect()
    assert rows
    assert all(r["avg_bigram_logprob"] <= 0.0 for r in rows)
    assert all(r["n_bigrams"] >= 1 for r in rows)


class TestProductQuantization:
    """PQ codes + ADC search (operators/pq.py). The synthetic
    near-uniform corpus is PQ's adversarial case (no cluster structure
    — same reason single-bucket sign-LSH collapses on it), so the
    recall floor is calibrated to the measured 8x16 figure (~0.25),
    with the random baseline at topk/(n-1) ~ 0.01."""

    def test_training_reduces_recon_err(self, spark, sf_small):
        from pyspark.sql import functions as F

        from energy_data_pipeline_spark.operators import pq
        from energy_data_pipeline_spark.sources import load_table

        emb = load_table(spark, sf_small, "embeddings")
        seed = pq.pq_train(emb, iterations=0)
        trained = pq.pq_train(emb, iterations=pq.PQ_ITERS)
        e_seed = pq.pq_assign(emb, seed).agg(F.avg("recon_err")).first()[0]
        e_tr = pq.pq_assign(emb, trained).agg(F.avg("recon_err")).first()[0]
        assert e_tr < e_seed, (e_tr, e_seed)

    def test_codes_bounded_and_errs_nonnegative(self, spark, sf_small):
        from energy_data_pipeline_spark.plans.catalog_ext import emb_pq_codes
        from energy_data_pipeline_spark.operators import pq

        rows = emb_pq_codes(spark, sf_small).collect()
        assert rows
        for r in rows:
            assert r["recon_err"] >= 0
            for mi in range(pq.PQ_M):
                assert 0 <= r[f"code{mi}"] < pq.PQ_K

    def test_adc_recall_floor_vs_exact_l2(self, spark, sf_small):
        import numpy as np

        from energy_data_pipeline_spark.plans.catalog import CATALOG
        from energy_data_pipeline_spark.plans.catalog_ext import PQ_QUERY_MAX
        from energy_data_pipeline_spark.sources import load_table

        rows = load_table(spark, sf_small, "embeddings").select(
            "vec_id", "embedding"
        ).collect()
        ids = np.array([r[0] for r in rows])
        V = np.array([r[1] for r in rows], dtype=float)
        truth = set()
        for q in range(PQ_QUERY_MAX):
            qv = V[ids == q][0]
            d = ((V - qv) ** 2).sum(1)
            d[ids == q] = np.inf
            top = ids[np.lexsort((ids, d))[:5]]
            truth |= {(q, int(i)) for i in top}
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in CATALOG["ann_pq_adc_topk"][0](spark, sf_small).collect()
        }
        recall = len(got & truth) / len(truth)
        assert recall >= 0.15, f"PQ-ADC recall {recall:.3f} < 0.15"

    def test_ivfpq_recall_floor_vs_exact_l2(self, spark, sf_small):
        """IVFADC probes 2/8 cells yet holds recall at/above the
        exhaustive plain-ADC figure (measured 0.275 vs 0.25): residual
        quantization buys back what the coarse pruning costs."""
        import numpy as np

        from energy_data_pipeline_spark.plans.catalog import CATALOG
        from energy_data_pipeline_spark.plans.catalog_ext import PQ_QUERY_MAX
        from energy_data_pipeline_spark.sources import load_table

        rows = load_table(spark, sf_small, "embeddings").select(
            "vec_id", "embedding"
        ).collect()
        ids = np.array([r[0] for r in rows])
        V = np.array([r[1] for r in rows], dtype=float)
        truth = set()
        for q in range(PQ_QUERY_MAX):
            qv = V[ids == q][0]
            d = ((V - qv) ** 2).sum(1)
            d[ids == q] = np.inf
            truth |= {
                (q, int(i)) for i in ids[np.lexsort((ids, d))[:5]]
            }
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in CATALOG["ann_ivfpq_topk"][0](spark, sf_small).collect()
        }
        recall = len(got & truth) / len(truth)
        assert recall >= 0.15, f"IVFPQ recall {recall:.3f} < 0.15"


def test_pack_efficiency_seq_count_matches_materializer(spark):
    """The fill-rate audit's sequence count must be
    ceil(shard_tokens / seq_len) — the materializer's actual sequence
    count — NOT the count of docs' distinct STARTING seq_ids, which
    misses every sequence a boundary-spanning document flows into
    (a 50-token doc at seq_len=8 fills 7 sequences but starts in one)."""
    import math

    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.operators.packing import (
        packed_sequences,
        sequence_pack_plan,
    )

    rows = [
        (1, "web", ["t"] * 50),   # spans 7 seqs at seq_len=8, alone in shard
        (2, "api", ["u"] * 5),
        (3, "api", ["v"] * 6),    # api shard: 11 tokens -> 2 seqs
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, toks array<string>"
    )
    plan = sequence_pack_plan(
        docs, "doc_id", F.size("toks").cast("long"), ["source"], seq_len=8
    )
    shard_toks = {
        (r["source"], r["pack_shard"]): r["toks"]
        for r in plan.groupBy("source", "pack_shard")
        .agg(F.sum("n_tokens").alias("toks"))
        .collect()
    }
    ceil_seqs = {
        k: math.ceil(v / 8) for k, v in shard_toks.items()
    }
    mat = packed_sequences(
        docs, "doc_id", F.col("toks"), ["source"], seq_len=8
    )
    mat_seqs = {
        (r["source"], r["pack_shard"]): r["n"]
        for r in mat.groupBy("source", "pack_shard")
        .agg(F.countDistinct("seq_id").alias("n"))
        .collect()
    }
    assert ceil_seqs == mat_seqs
    assert ceil_seqs[("web", 0)] == 7  # the spanning case the old
    # distinct-start formula counted as 1


def test_pq_train_handles_fewer_vectors_than_k(spark):
    """A corpus smaller than K must train a smaller codebook (like
    kmeans_lloyd), not IndexError in the Lloyd rebuild."""
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.operators import pq

    vecs = spark.range(0, 12).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda d: (F.pmod(F.xxhash64("id", d), 100) / 100.0).cast("float"),
        ).alias("embedding"),
    )
    cents = pq.pq_train(vecs, iterations=1)
    assert len(cents) == pq.PQ_M and len(cents[0]) == 12
    codes = pq.pq_assign(vecs, cents).collect()
    assert len(codes) == 12
    for r in codes:
        for mi in range(pq.PQ_M):
            assert 0 <= r[f"code{mi}"] < 12


class TestSketchPrimitives:
    """operators/sketches.py kernel invariants — independently checked
    against Python's hashlib so the Spark expressions and the DuckDB
    oracle can't share a common bug."""

    def test_hll_hash_matches_python_md5(self, spark):
        import hashlib

        from energy_data_pipeline_spark.operators import sketches as SK

        df = spark.createDataFrame([(k,) for k in (0, 1, 42, 10**12)], "k long")
        got = {
            r["k"]: r["hv"]
            for r in df.select("k", SK.hll_hash(F.col("k")).alias("hv")).collect()
        }
        for k, hv in got.items():
            expected = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
            assert hv == expected, (k, hv, expected)

    def test_hll_rho_counts_leading_zeros(self, spark):
        """rho over the 52-bit word: w with bit_length b → 53 − b; the
        all-zeros word → 53 (sentinel). Checked on constructed hv
        values where the word is exact."""
        from energy_data_pipeline_spark.operators import sketches as SK

        # hv = w * 256 + bucket: choose bucket 0 so w = hv >> 8 exactly
        cases = [
            (1 << 8, 52),          # w = 1 → bit_length 1 → rho 52
            ((1 << 51) << 8, 1),   # w = 2^51 → bit_length 52 → rho 1
            (0, 53),               # w = 0 → sentinel
            ((3 << 10) << 8, 41),  # w = 3*2^10 → bit_length 12 → rho 41
        ]
        df = spark.createDataFrame([(hv,) for hv, _ in cases], "hv long")
        got = [
            r["rho"]
            for r in df.select(SK.hll_rho(F.col("hv")).alias("rho")).collect()
        ]
        assert got == [rho for _, rho in cases]

    def test_merge_registers_is_max_and_idempotent(self, spark):
        from energy_data_pipeline_spark.operators import sketches as SK

        a = spark.createDataFrame(
            [(0, 3), (1, 5)], "bucket long, rho int"
        )
        b = spark.createDataFrame(
            [(0, 7), (2, 2)], "bucket long, rho int"
        )
        merged = {
            (r["bucket"], r["rho"])
            for r in SK.merge_registers(a, b).collect()
        }
        assert merged == {(0, 7), (1, 5), (2, 2)}
        # self-merge is a no-op (idempotent under redelivery)
        again = {
            (r["bucket"], r["rho"])
            for r in SK.merge_registers(a, a).collect()
        }
        assert again == {(0, 3), (1, 5)}

    def test_hll_estimate_error_within_bound_at_1k_keys(self, spark):
        """1000 distinct keys >> m=256 registers: the raw harmonic
        estimator engages (no linear-counting) and must land within
        3 standard errors (3 · 1.04/√256 ≈ 19.5%)."""
        from energy_data_pipeline_spark.operators import sketches as SK

        df = spark.range(0, 1000).select(F.col("id").alias("k"))
        reg = SK.hll_registers(df, "k")
        est = SK.hll_estimate(reg).collect()[0]["hll_estimate"]
        assert abs(est - 1000) / 1000 < 0.195, est


class TestIvfpqRefinedRecall:
    def test_refined_recall_floor_vs_exact_l2(self, spark, sf_small):
        """IVFADC+R regression bar: the exact re-rank of the 25-deep
        ADC shortlist must hold recall@5 >= 0.6 (measured 0.775 —
        nearly 3x the plain-IVFADC 0.275, because ADC ranking noise,
        not coarse cell misses, was the cap)."""
        import numpy as np

        from energy_data_pipeline_spark.plans.catalog import CATALOG
        from energy_data_pipeline_spark.plans.catalog_ext import PQ_QUERY_MAX
        from energy_data_pipeline_spark.sources import load_table

        rows = load_table(spark, sf_small, "embeddings").select(
            "vec_id", "embedding"
        ).collect()
        ids = np.array([r[0] for r in rows])
        V = np.array([r[1] for r in rows], dtype=float)
        truth = set()
        for q in range(PQ_QUERY_MAX):
            qv = V[ids == q][0]
            d = ((V - qv) ** 2).sum(1)
            d[ids == q] = np.inf
            truth |= {
                (q, int(i)) for i in ids[np.lexsort((ids, d))[:5]]
            }
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in CATALOG["ann_ivfpq_refined_topk"][0](
                spark, sf_small
            ).collect()
        }
        recall = len(got & truth) / len(truth)
        assert recall >= 0.6, f"IVFADC+R recall {recall:.3f} < 0.6"


class TestHttpConditionalPutCas:
    """The object-store commit backend: manifest commits adjudicated by
    a loopback HTTP store's conditional PUT (the S3 If-Match contract)
    instead of the local flock — closing the 'object store has no
    atomic exclusive-create' gap as far as a sandbox can: a deployment
    changes the base URL, not code."""

    def test_contract_get_put_precondition(self):
        from energy_data_pipeline_spark.sinks.object_store import (
            LoopbackConditionalStore,
            _get_object,
            _put_if,
        )

        with LoopbackConditionalStore() as store:
            base = store.base_url
            assert _get_object(base, "k") == (None, None)  # 404 → absent
            assert _put_if(base, "k", "v0", None) is True  # If-None-Match:*
            assert _put_if(base, "k", "v0x", None) is False  # already exists
            val, etag = _get_object(base, "k")
            assert val == "v0" and etag is not None
            # the PUT decides atomically: same etag can win only once
            assert _put_if(base, "k", "v1", etag) is True
            assert _put_if(base, "k", "v1x", etag) is False  # 412
            assert _get_object(base, "k")[0] == "v1"

    def test_lost_update_rejected_through_http_seam(self, spark, tmp_path):
        """Writer A stages against version N; writer B commits N+1
        through the store meanwhile; A's commit must fail with
        CommitConflictError — adjudicated by the store, not flock."""
        import pytest as _pytest

        from energy_data_pipeline_spark.sinks import manifest_table as mt
        from energy_data_pipeline_spark.sinks.object_store import (
            LoopbackConditionalStore,
            http_conditional_put_cas,
        )

        with LoopbackConditionalStore() as store:
            cas = http_conditional_put_cas(store.base_url)
            table = str(tmp_path / "t")
            mt.manifest_overwrite(
                spark.createDataFrame([(0, "seed")], "k long, v string"),
                table,
                compare_and_swap=cas,
            )
            parent = mt.read_manifest(table)
            filesA = mt._stage_data_files(
                spark.createDataFrame([(1, "A")], "k long, v string"), table
            )
            # B commits first
            mt.manifest_append(
                spark.createDataFrame([(2, "B")], "k long, v string"),
                table,
                compare_and_swap=cas,
            )
            with _pytest.raises(mt.CommitConflictError):
                mt._publish(
                    table,
                    (parent["files"] if parent else []) + filesA,
                    parent,
                    compare_and_swap=cas,
                )
            rows = {
                tuple(r) for r in mt.manifest_read(spark, table).collect()
            }
            assert rows == {(0, "seed"), (2, "B")}  # A's rows invisible

    def test_simultaneous_commit_race_through_http_seam(self, spark, tmp_path):
        """The genuinely-simultaneous two-plus-writer race, adjudicated
        by the store's conditional PUT: every writer's row lands,
        exactly one commit per writer, no lost updates — with the
        default flock NEVER involved."""
        import threading

        from energy_data_pipeline_spark.sinks import manifest_table as mt
        from energy_data_pipeline_spark.sinks.object_store import (
            LoopbackConditionalStore,
            http_conditional_put_cas,
        )

        with LoopbackConditionalStore() as store:
            cas = http_conditional_put_cas(store.base_url)
            table = str(tmp_path / "t")
            mt.manifest_overwrite(
                spark.createDataFrame([(0, "seed")], "k long, v string"),
                table,
                compare_and_swap=cas,
            )
            n_writers = 5
            frames = [
                spark.createDataFrame([(i + 1, f"w{i}")], "k long, v string")
                for i in range(n_writers)
            ]
            errors: list = []
            barrier = threading.Barrier(n_writers)

            def writer(i):
                barrier.wait()
                for _attempt in range(20):
                    try:
                        mt.manifest_append(frames[i], table, compare_and_swap=cas)
                        return
                    except mt.CommitConflictError:
                        continue
                    except Exception as e:  # pragma: no cover
                        errors.append(e)
                        return
                errors.append(RuntimeError(f"writer {i} never committed"))

            ts = [
                threading.Thread(target=writer, args=(i,))
                for i in range(n_writers)
            ]
            for t in ts:
                t.start()
            for t in ts:
                t.join()
            assert not errors, errors
            rows = {
                tuple(r) for r in mt.manifest_read(spark, table).collect()
            }
            assert rows == {(0, "seed")} | {
                (i + 1, f"w{i}") for i in range(n_writers)
            }
            assert mt.read_manifest(table)["version"] == n_writers


class TestBpeTrain:
    """Distributed BPE trainer vs an independent reference
    implementation (leftmost non-overlapping scan, count-desc /
    pair-asc tie-break, count>=2 cutoff)."""

    @staticmethod
    def _ref_bpe(vocab: dict, n_merges: int):
        syms = {w: list(w) for w in vocab}
        merges = []
        for _ in range(n_merges):
            counts: dict = {}
            for w, f in vocab.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = (
                        counts.get((s[i], s[i + 1]), 0) + f
                    )
            if not counts:
                break
            (a, b), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            if c < 2:
                break
            merges.append((a, b))
            for w in syms:
                s = syms[w]
                out = []
                i = 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                syms[w] = out
        return merges, syms

    def _run_both(self, spark, vocab: dict, n_merges: int):
        from energy_data_pipeline_spark.operators import bpe

        df = spark.createDataFrame(
            list(vocab.items()), "w string, freq long"
        )
        merges, final = bpe.bpe_train(df, n_merges, checkpoint_every=3)
        got = {r["w"]: list(r["syms"]) for r in final.collect()}
        final.unpersist()
        want_merges, want_syms = self._ref_bpe(vocab, n_merges)
        return merges, got, want_merges, want_syms

    def test_classic_sennrich_example(self, spark):
        vocab = {"lowlow": 5, "lowerlower": 2, "newest": 6, "widest": 3}
        merges, got, want_merges, want_syms = self._run_both(
            spark, vocab, 6
        )
        assert merges == want_merges
        assert got == want_syms
        # merged symbols really are multi-char after training
        assert any(len(s) > 1 for syms in got.values() for s in syms)

    def test_random_vocab_matches_reference(self, spark):
        import random

        rng = random.Random(11)
        words = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 8)))
            for _ in range(40)
        ]
        vocab = {}
        for w in words:
            vocab[w] = vocab.get(w, 0) + rng.randint(1, 9)
        merges, got, want_merges, want_syms = self._run_both(
            spark, vocab, 10
        )
        assert merges == want_merges
        assert got == want_syms

    def test_early_stop_on_singleton_pairs(self, spark):
        # every word unique single chars -> all pairs count 1 -> no merge
        vocab = {"ab": 1, "cd": 1, "ef": 1}
        merges, got, want_merges, want_syms = self._run_both(
            spark, vocab, 5
        )
        assert merges == [] and want_merges == []
        assert got == want_syms

    def test_apply_merges_matches_training_output(self, spark):
        from energy_data_pipeline_spark.operators import bpe

        vocab = {"banana": 4, "bandana": 2, "ananas": 3}
        df = spark.createDataFrame(
            list(vocab.items()), "w string, freq long"
        )
        merges, final = bpe.bpe_train(df, 5, checkpoint_every=2)
        trained = {r["w"]: list(r["syms"]) for r in final.collect()}
        final.unpersist()
        applied = bpe.apply_merges(
            df.select("w"), merges, checkpoint_every=2
        )
        got = {r["w"]: list(r["syms"]) for r in applied.collect()}
        assert got == trained


class TestHttpCasCrashRecovery:
    def test_local_pointer_repair_after_crash_between_put_and_replace(
        self, spark, tmp_path, monkeypatch
    ):
        """A writer that crashes AFTER the store accepted its
        conditional PUT but BEFORE the local pointer replace leaves
        _CURRENT lagging the store. The next commit must repair the
        local pointer from the store and then conflict (so the caller
        re-reads the repaired truth) — and its retry must SUCCEED,
        never livelock on the stale local parent."""
        import os as _os

        import pytest as _pytest

        from energy_data_pipeline_spark.sinks import manifest_table as mt
        from energy_data_pipeline_spark.sinks.object_store import (
            LoopbackConditionalStore,
            http_conditional_put_cas,
        )

        with LoopbackConditionalStore() as store:
            cas = http_conditional_put_cas(store.base_url)
            table = str(tmp_path / "t")
            mt.manifest_overwrite(
                spark.createDataFrame([(0, "seed")], "k long, v string"),
                table,
                compare_and_swap=cas,
            )

            # crash injection: the store accepts, the local replace dies
            real_replace = _os.replace
            crashed = {"n": 0}

            def dying_replace(src, dst):
                if dst.endswith("_CURRENT") and ".repair." not in src:
                    crashed["n"] += 1
                    raise OSError("injected crash before local replace")
                return real_replace(src, dst)

            monkeypatch.setattr(
                "energy_data_pipeline_spark.sinks.object_store.os.replace",
                dying_replace,
            )
            with _pytest.raises(OSError, match="injected crash"):
                mt.manifest_append(
                    spark.createDataFrame([(1, "wA")], "k long, v string"),
                    table,
                    compare_and_swap=cas,
                )
            monkeypatch.setattr(
                "energy_data_pipeline_spark.sinks.object_store.os.replace",
                real_replace,
            )
            assert crashed["n"] == 1
            # local pointer is now STALE vs the store; a plain retry
            # loop must converge: first attempt repairs + conflicts,
            # second succeeds
            frame = spark.createDataFrame([(2, "wB")], "k long, v string")
            for _attempt in range(3):
                try:
                    mt.manifest_append(frame, table, compare_and_swap=cas)
                    break
                except mt.CommitConflictError:
                    continue
            else:
                raise AssertionError("retry never converged")
            rows = {
                tuple(r) for r in mt.manifest_read(spark, table).collect()
            }
            # wA's data files were staged and its manifest committed in
            # the STORE's view; after repair the local chain includes
            # it, and wB lands on top
            assert (0, "seed") in rows and (2, "wB") in rows


class TestManifestCompact:
    def test_compacts_small_files_preserving_content_and_history(
        self, spark, tmp_path
    ):
        """Ten appends -> >10 files; compact rewrites the live snapshot
        into <= max_files with IDENTICAL content, the pre-compaction
        version stays readable, and an already-compact table is a
        no-op."""
        from energy_data_pipeline_spark.sinks import manifest_table as mt

        table = str(tmp_path / "t")
        for i in range(10):
            mt.manifest_append(
                spark.createDataFrame([(i, f"v{i}")], "k long, v string"),
                table,
            )
        parent = mt.read_manifest(table)
        assert len(parent["files"]) >= 10
        before = {tuple(r) for r in mt.manifest_read(spark, table).collect()}
        m = mt.manifest_compact(spark, table, max_files=3)
        assert m is not None and len(m["files"]) <= 3
        after = {tuple(r) for r in mt.manifest_read(spark, table).collect()}
        assert after == before
        # history: the 10-file version still reads exactly as committed
        assert (
            mt.manifest_read(spark, table, version=parent["version"]).count()
            == 10
        )
        # idempotent: already compact -> no new version
        assert mt.manifest_compact(spark, table, max_files=3) is None
        assert mt.read_manifest(table)["version"] == m["version"]

    def test_concurrent_append_beats_compactor(self, spark, tmp_path):
        """A writer that commits between the compactor's snapshot read
        and its publish must WIN: the compactor gets
        CommitConflictError and the append is never lost."""
        import pytest as _pytest

        from energy_data_pipeline_spark.sinks import manifest_table as mt

        table = str(tmp_path / "t")
        for i in range(6):
            mt.manifest_append(
                spark.createDataFrame([(i, f"v{i}")], "k long, v string"),
                table,
            )
        parent = mt.read_manifest(table)
        df = mt.manifest_read(spark, table).coalesce(2)
        staged = mt._stage_data_files(df, table)
        # the racing append lands first
        mt.manifest_append(
            spark.createDataFrame([(99, "late")], "k long, v string"), table
        )
        with _pytest.raises(mt.CommitConflictError):
            mt._publish(table, staged, parent)
        rows = {tuple(r) for r in mt.manifest_read(spark, table).collect()}
        assert (99, "late") in rows and len(rows) == 7
        # the retried compaction now includes the late row
        m = mt.manifest_compact(spark, table, max_files=2)
        assert m is not None
        rows2 = {tuple(r) for r in mt.manifest_read(spark, table).collect()}
        assert rows2 == rows


class TestGroupCompact:
    def test_group_compact_preserves_both_subtables_atomically(
        self, spark, tmp_path
    ):
        """Per-batch group appends build up files in BOTH sub-tables;
        one compact rewrites the oversized subs into <= max_files each,
        carries compact subs untouched, preserves content exactly, and
        is a no-op when already compact."""
        from energy_data_pipeline_spark.sinks import manifest_table as mt

        root = str(tmp_path / "g")
        for i in range(6):
            mt.group_append(
                {
                    "corpus": spark.createDataFrame(
                        [(i, f"t{i}")], "doc_id long, text string"
                    ),
                    "index": spark.createDataFrame(
                        [(i, i % 3)], "doc_id long, band long"
                    ),
                },
                root,
            )
        parent = mt.read_manifest(root)
        assert all(len(v) >= 6 for v in parent["tables"].values())
        before = {
            sub: {tuple(r) for r in mt.group_read(spark, root, sub).collect()}
            for sub in ("corpus", "index")
        }
        m = mt.group_compact(spark, root, max_files=2)
        assert m is not None
        assert all(len(v) <= 2 for v in m["tables"].values())
        after = {
            sub: {tuple(r) for r in mt.group_read(spark, root, sub).collect()}
            for sub in ("corpus", "index")
        }
        assert after == before
        # pre-compaction version still readable (snapshot isolation)
        assert (
            mt.group_read(
                spark, root, "corpus", version=parent["version"]
            ).count()
            == 6
        )
        # already compact -> no-op
        assert mt.group_compact(spark, root, max_files=2) is None


# --- tokenizer fertility audit: conservation + bounds ---
def test_bpe_fertility_conserves_word_counts(spark, sf_small):
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.plans.catalog_corpus import (
        DUCK_WORDS,  # noqa: F401  (tokenization parity documented there)
        bpe_fertility,
    )
    from energy_data_pipeline_spark.plans.catalog_corpus import (
        _doc_words_silver,
    )

    rows = bpe_fertility(spark, sf_small).collect()
    assert rows
    for r in rows:
        # every word is >=1 symbol; merges only ever shrink chars/token
        assert r["fertility"] >= 1.0
        assert r["n_tokens"] >= r["n_words"]
        assert r["n_chars"] >= r["n_tokens"]  # symbols are >=1 char
        assert 0.0 <= r["split_word_ratio"] <= 1.0
    # per-lang word counts sum to the corpus token stream (nothing
    # dropped by the segmentation join: the model covers its own vocab)
    total = sum(r["n_words"] for r in rows)
    silver = _doc_words_silver(spark, sf_small)
    expect = silver.select(
        F.sum(F.size("wl")).alias("n")
    ).first()["n"]
    assert total == expect


# --- hybrid RRF fusion: rank algebra + shortlist contract ---
def test_rrf_fusion_scores_and_ranks(spark, sf_small):
    from energy_data_pipeline_spark.plans.catalog_corpus import (
        RRF_DENSE_QUERY,
        RRF_K,
        RRF_POOL,
        RRF_TOPK,
        rrf_fusion_topk,
    )

    rows = rrf_fusion_topk(spark, sf_small).collect()
    assert 0 < len(rows) <= RRF_TOPK
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["doc_id"] != RRF_DENSE_QUERY  # self-hit excluded
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        expect = 0.0
        for rk in (r["lex_rank"], r["sem_rank"]):
            if rk is not None:
                assert 1 <= rk <= RRF_POOL
                expect += 1.0 / (RRF_K + rk)
        assert abs(r["rrf_score"] - round(expect, 6)) < 1e-9
    # a doc present in BOTH shortlists must outrank a doc seen only
    # at the same single-leg rank (the point of fusion)
    both = [r for r in rows if r["lex_rank"] and r["sem_rank"]]
    assert both, "fixture should produce at least one dual-leg hit"


# --- NB quality classifier: trained model beats the majority vote ---
def test_nb_quality_classifier_learns_labels(spark, sf_small):
    import math

    from energy_data_pipeline_spark.plans.catalog_corpus import (
        nb_quality_classifier,
    )

    rows = nb_quality_classifier(spark, sf_small).collect()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").count()
    assert len(rows) == docs  # scored corpus-wide, zero-token docs kept
    assert all(r["label"] in (0, 1) and r["pred"] in (0, 1) for r in rows)
    acc = sum(r["label"] == r["pred"] for r in rows) / len(rows)
    base = max(
        sum(r["label"] for r in rows) / len(rows),
        1 - sum(r["label"] for r in rows) / len(rows),
    )
    assert acc >= base, (acc, base)  # at least the majority baseline
    assert acc > 0.9
    # zero-token docs fall back to the smoothed prior exactly
    n1 = sum(r["label"] for r in rows)
    prior = round(math.log((n1 + 1.0) / (len(rows) - n1 + 1.0)), 4)
    for r in rows:
        if r["n_tokens"] == 0:
            assert r["nb_logodds"] == prior


# --- bitext mining: margin algebra + best-pair contract ---
def test_bitext_margin_pairs_algebra(spark, sf_small):
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.plans.catalog_corpus import (
        BITEXT_MIN_MARGIN,
        BITEXT_NNK,
        BITEXT_SRC_LANG,
        BITEXT_TGT_LANG,
        _bitext_pair_frame,
        bitext_margin_pairs,
    )

    rows = bitext_margin_pairs(spark, sf_small).collect()
    assert rows, "fixture should mine at least one pair"
    srcs = [r["src_doc"] for r in rows]
    assert len(srcs) == len(set(srcs))  # at most one pair per source
    assert all(r["margin"] >= BITEXT_MIN_MARGIN for r in rows)
    assert all(-1.0 <= r["cosine_sim"] <= 1.0 for r in rows)
    # languages really are cross-lingual
    langs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    for r in rows:
        assert langs[r["src_doc"]] == BITEXT_SRC_LANG
        assert langs[r["tgt_doc"]] == BITEXT_TGT_LANG
    # reproduce one margin by hand from the pinned pair frame
    r0 = rows[0]
    pairs = _bitext_pair_frame(spark, sf_small)
    xs = sorted(
        (
            p["cosine_sim"]
            for p in pairs.filter(
                F.col("src_doc") == r0["src_doc"]
            ).collect()
        ),
        reverse=True,
    )
    ys = sorted(
        (
            p["cosine_sim"]
            for p in pairs.filter(
                F.col("tgt_doc") == r0["tgt_doc"]
            ).collect()
        ),
        reverse=True,
    )
    ax = sum(xs[:BITEXT_NNK]) / min(len(xs), BITEXT_NNK)
    ay = sum(ys[:BITEXT_NNK]) / min(len(ys), BITEXT_NNK)
    expect = round(2.0 * r0["cosine_sim"] / (ax + ay), 6)
    assert abs(r0["margin"] - expect) < 2e-6


# --- MMR: greedy scores non-increasing, relevance-first ---
def test_mmr_diversified_topk_greedy_contract(spark, sf_small):
    from energy_data_pipeline_spark.plans.catalog_corpus import (
        MMR_LAMBDA,
        MMR_TOPK,
        mmr_diversified_topk,
    )

    rows = sorted(
        mmr_diversified_topk(spark, sf_small).collect(),
        key=lambda r: r["mmr_rank"],
    )
    assert len(rows) == MMR_TOPK
    assert len({r["doc_id"] for r in rows}) == MMR_TOPK
    # first pick is pure relevance: mmr = lambda * rel, and no later
    # pick has higher relevance than the first
    assert rows[0]["mmr_score"] == round(MMR_LAMBDA * rows[0]["relevance"], 6)
    assert all(r["relevance"] <= rows[0]["relevance"] for r in rows[1:])
    # greedy argmax trace is non-increasing (max-sim only ever grows)
    scores = [r["mmr_score"] for r in rows]
    assert all(a >= b for a, b in zip(scores, scores[1:]))


# --- k-center: farthest-point traversal invariants ---
def test_kcenter_coreset_radii_and_spread(spark, sf_small):
    from energy_data_pipeline_spark.plans.catalog_corpus import (
        KCENTER_K,
        kcenter_coreset,
    )

    rows = sorted(
        kcenter_coreset(spark, sf_small).collect(),
        key=lambda r: r["sel_rank"],
    )
    assert len(rows) == KCENTER_K
    assert rows[0]["radius"] is None  # seed has no maximin radius
    radii = [r["radius"] for r in rows[1:]]
    assert all(r is not None and r > 0 for r in radii)
    # maximin radii are non-increasing
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    # FPS spread: every selected pair is at least the LAST radius apart
    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{sf_small}/embeddings.parquet")
        .collect()
        if r["vec_id"] in {x["vec_id"] for x in rows}
    }
    ids = [r["vec_id"] for r in rows]
    last = radii[-1]
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = sum(
                (float(a) - float(b)) ** 2
                for a, b in zip(emb[ids[i]], emb[ids[j]])
            )
            assert d >= last - 1e-6, (ids[i], ids[j], d, last)


# --- bucketed bitext: the scale-path twin's recall/cost trade ---
def test_bitext_bucketed_recall_and_pruning(spark, sf_small):
    from energy_data_pipeline_spark.plans.catalog_corpus import (
        _bitext_bucketed_pair_frame,
        _bitext_pair_frame,
        bitext_bucketed_pairs,
        bitext_margin_pairs,
    )

    exact_pairs = _bitext_pair_frame(spark, sf_small).count()
    bucket_pairs = _bitext_bucketed_pair_frame(spark, sf_small).count()
    # candidate pruning is the point: the cell-restricted stream must
    # be a small fraction of the cross product
    assert 0 < bucket_pairs < exact_pairs / 4, (bucket_pairs, exact_pairs)

    exact = {
        (r["src_doc"], r["tgt_doc"])
        for r in bitext_margin_pairs(spark, sf_small).collect()
    }
    bucketed = {
        (r["src_doc"], r["tgt_doc"])
        for r in bitext_bucketed_pairs(spark, sf_small).collect()
    }
    assert bucketed, "bucketed variant should mine at least one pair"
    # every bucketed pair is same-cell by construction; measure recall
    # against the exact twin and pin a floor: same-cell = similar, so
    # a decent share of the exact winners must survive the restriction
    recall = len(exact & bucketed) / len(exact)
    assert recall >= 0.2, (recall, len(exact), len(bucketed))


# --- effective token budget: dedup discount algebra ---
def test_effective_token_budget_discount_bounds(spark, sf_small):
    from pyspark.sql import functions as F

    from energy_data_pipeline_spark.plans.catalog_corpus import (
        _doc_words_silver,
        effective_token_budget,
    )

    rows = effective_token_budget(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert 0 < r["effective_tokens"] <= r["raw_tokens"] + 1e-6
        assert 0 < r["dedup_discount"] <= 1.0
    # raw totals reconcile with the silver frame exactly
    silver = _doc_words_silver(spark, sf_small)
    raw = {
        r["source"]: r["n"]
        for r in silver.groupBy("source")
        .agg(F.sum(F.size("wl")).alias("n"))
        .collect()
    }
    assert {r["source"]: r["raw_tokens"] for r in rows} == raw
    # some source must actually be discounted (the fixture has dups)
    assert any(r["dedup_discount"] < 1.0 for r in rows)


# --- RAKE: run-splitting and scoring invariants ---
def test_rake_keywords_runs_and_scores(spark, sf_small):
    from energy_data_pipeline_spark.functions import text as T
    from energy_data_pipeline_spark.plans.catalog_corpus import (
        RAKE_TOPK,
        rake_keywords,
    )

    rows = rake_keywords(spark, sf_small).collect()
    assert 0 < len(rows) <= RAKE_TOPK
    stop = set(T.LANG_MARKERS["en"])
    scores = [r["rake_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        ws = r["phrase"].split(" ")
        assert ws and all(w and w not in stop for w in ws)
        assert r["n_occurrences"] >= 1
        # degree/freq >= 1 per member word, so a phrase scores at
        # least its own length
        assert r["rake_score"] >= len(ws) - 1e-4
