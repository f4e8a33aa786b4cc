"""Missing-value imputation — SURVEY.md §2.8 T2/T3/T4/T5, the
reference's domain core (fetch_data/common/impute_missing.py).

Policy (parity with impute_missing.py:349-374):
- consecutive-NULL runs of length <= short_gap_max (3): cubic-spline
  interpolation over the series (scipy, linear fallback) — T3;
- longer runs: historical same-calendar-slot average, cascading
  slot mean → series mean → global mean — T4.

Spark design:
- T4 is fully native: one aggregation builds the (month, day, hour)
  profile (impute_missing.py:101-129), then a broadcast join + coalesce
  cascade fills the gaps. No Python in the loop — scales to any size.
- T3 keeps scipy inside an ``applyInPandas`` grouped by series key: the
  only genuine UDF in the engine (SURVEY.md §4). Each series (station ×
  column) is one pandas group — the same unit of work the reference
  processes, so parity is exact and parallelism is per-series.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import rnd
from ..shipping import ensure_worker_imports


def find_consecutive_missing_groups(values: np.ndarray) -> list[tuple[int, int]]:
    """NaN runs → [(start_idx, length)].

    Parity: impute_missing.py:14-38 (same output contract, including
    empty input and all-NaN handling).
    """
    isna = np.isnan(values)
    if isna.size == 0 or not isna.any():
        return []
    groups: list[tuple[int, int]] = []
    start = None
    for i, m in enumerate(isna):
        if m and start is None:
            start = i
        elif not m and start is not None:
            groups.append((start, i - start))
            start = None
    if start is not None:
        groups.append((start, len(isna) - start))
    return groups


def _not_a_knot_spline(x: np.ndarray, y: np.ndarray, xq: np.ndarray) -> np.ndarray:
    """Cubic spline interpolation with not-a-knot boundary conditions —
    the same interpolant as scipy ``interp1d(kind='cubic')`` /
    ``CubicSpline(bc_type='not-a-knot')``, implemented with a Thomas
    (tridiagonal) solve so it is O(n) at any series length.

    Out-of-range queries extrapolate with the nearest polynomial piece
    (scipy's ``fill_value='extrapolate'`` behavior). Requires len(x)>=4.
    """
    n = x.size
    h = np.diff(x)
    s = np.diff(y) / h
    # interior rows i=1..n-2: a M_{i-1} + b M_i + c M_{i+1} = d  (unknown
    # M = second derivatives); not-a-knot ties M_0/M_{n-1} to neighbors:
    #   M_0 = ((h0+h1) M_1 - h0 M_2) / h1      (3rd-deriv continuity at x1)
    #   M_{n-1} analogous at x_{n-2}
    a = h[:-1].astype(float).copy()
    b = 2.0 * (h[:-1] + h[1:])
    c = h[1:].astype(float).copy()
    d = 6.0 * np.diff(s)
    # fold the boundary relations into the first/last interior rows
    b[0] += a[0] * (h[0] + h[1]) / h[1]
    c[0] -= a[0] * h[0] / h[1]
    a[0] = 0.0
    b[-1] += c[-1] * (h[-1] + h[-2]) / h[-2]
    a[-1] -= c[-1] * h[-1] / h[-2]
    c[-1] = 0.0
    # Thomas solve for M_1..M_{n-2}
    m = b.size
    cp = np.empty(m)
    dp = np.empty(m)
    cp[0] = c[0] / b[0]
    dp[0] = d[0] / b[0]
    for i in range(1, m):
        denom = b[i] - a[i] * cp[i - 1]
        cp[i] = c[i] / denom
        dp[i] = (d[i] - a[i] * dp[i - 1]) / denom
    M = np.empty(n)
    M[m] = dp[m - 1]
    for i in range(m - 2, -1, -1):
        M[i + 1] = dp[i] - cp[i] * M[i + 2]
    M[0] = ((h[0] + h[1]) * M[1] - h[0] * M[2]) / h[1]
    M[n - 1] = ((h[-1] + h[-2]) * M[n - 2] - h[-1] * M[n - 3]) / h[-2]
    # piecewise evaluation; clip segment index for extrapolation
    seg = np.clip(np.searchsorted(x, xq, side="right") - 1, 0, n - 2)
    hs = h[seg]
    lo = x[seg]
    hi = x[seg + 1]
    return (
        M[seg] * (hi - xq) ** 3 / (6 * hs)
        + M[seg + 1] * (xq - lo) ** 3 / (6 * hs)
        + (y[seg] / hs - M[seg] * hs / 6) * (hi - xq)
        + (y[seg + 1] / hs - M[seg + 1] * hs / 6) * (xq - lo)
    )


def _spline_fill_series(values: np.ndarray, short_gap_max: int) -> np.ndarray:
    """Fill NaN runs of length <= short_gap_max by cubic spline over the
    valid points, with the reference's fallback ladder
    (impute_missing.py:41-98): <4 valid points or no valid point on one
    side → linear np.interp; spline failure → linear.

    Uses scipy when available (bit-parity with the reference), else the
    numpy not-a-knot spline above (same interpolant to ~1e-12).
    """
    out = values.copy()
    valid_idx = np.flatnonzero(~np.isnan(values))
    # <2 valid points: no interpolation is defined — leave NaN, matching
    # the reference's valid-count guard (impute_missing.py:52-55)
    if valid_idx.size < 2:
        return out
    for start, length in find_consecutive_missing_groups(values):
        if length > short_gap_max:
            continue
        gap_idx = np.arange(start, start + length)
        before = valid_idx[valid_idx < start]
        after = valid_idx[valid_idx >= start + length]
        use_linear = valid_idx.size < 4 or before.size == 0 or after.size == 0
        if not use_linear:
            try:
                try:
                    from scipy.interpolate import interp1d

                    f = interp1d(
                        valid_idx.astype(float),
                        values[valid_idx],
                        kind="cubic",
                        fill_value="extrapolate",
                    )
                    out[gap_idx] = f(gap_idx.astype(float))
                except ImportError:
                    out[gap_idx] = _not_a_knot_spline(
                        valid_idx.astype(float),
                        values[valid_idx],
                        gap_idx.astype(float),
                    )
                continue
            except Exception:
                pass
        out[gap_idx] = np.interp(
            gap_idx.astype(float), valid_idx.astype(float), values[valid_idx]
        )
    return out


def spline_impute_short_gaps(
    df: DataFrame,
    ts_col: str,
    value_col: str | Sequence[str],
    keys: Sequence[str],
    short_gap_max: int = 3,
) -> DataFrame:
    """T3 — grouped-map pandas UDF: per series key, sort by time and
    spline-fill short NULL runs. Long runs are left NULL for T4.

    Accepts one column or a list — every column is filled in the SAME
    pandas pass, so N columns cost one grouped shuffle, not N.
    Output schema == input schema (value columns filled in place).
    """
    ensure_worker_imports(df.sparkSession)
    schema = df.schema
    key_list = list(keys)
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        for vc in vcols:
            vals = pdf[vc].to_numpy(dtype="float64", na_value=np.nan)
            pdf[vc] = _spline_fill_series(vals, short_gap_max)
        return pdf

    return df.groupBy(*key_list).applyInPandas(fill, schema=schema)


def historical_average_impute(
    df: DataFrame,
    ts_col: str,
    value_col: str | Sequence[str],
    keys: Sequence[str],
    min_gap_len: int = 4,
    fill_round_digits: int | None = None,
) -> DataFrame:
    """T4 — fill NULL runs of length >= min_gap_len from the same
    (month, day, hour) historical mean, cascading to the series mean,
    then the global mean (impute_missing.py:356-374).

    ``fill_round_digits`` rounds the cascade means (via rnd, the
    DuckDB-parity half-up) before they land: cross-engine oracles
    compare averages computed with different summation orders, and
    rounding the intermediate to a coarser grid than the final output
    absorbs the last-ulp differences (the same FP-order safety the T4
    catalog query applies inline).

    Fully native, and single-scan twice over:
    - all three cascade levels come from ONE aggregation via GROUPING
      SETS ((keys,m,d,h), (keys), ()) instead of three scans;
    - all value columns share that aggregation and the three broadcast
      joins, so N columns cost the same joins as one.
    The levels table is NOT cached: AQE reuses the grouping-sets
    exchange for its three consumers, and a ``persist()`` here would
    register a cache entry nobody releases (one more per call).

    Runs shorter than ``min_gap_len`` are left for the spline path.
    """
    key_list = list(keys)
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ts = F.col(ts_col)

    # classify each null row by its island length (T2), per column
    w = Window.partitionBy(*key_list).orderBy(ts_col)
    tagged = df
    drop_cols: list[str] = []
    for vc in vcols:
        grp = F.count(F.when(F.col(vc).isNotNull(), 1)).over(w)
        tagged = tagged.withColumn(f"_grp_{vc}", grp)
        wg = Window.partitionBy(*key_list, f"_grp_{vc}")
        tagged = tagged.withColumn(
            f"_gap_{vc}",
            F.when(
                F.col(vc).isNull(),
                F.sum(F.when(F.col(vc).isNull(), 1).otherwise(0)).over(wg),
            ),
        )
        drop_cols += [f"_grp_{vc}", f"_gap_{vc}"]

    nn = df.select(
        *key_list,
        F.month(ts).alias("_m"),
        F.dayofmonth(ts).alias("_d"),
        F.hour(ts).alias("_h"),
        *vcols,
    )
    gcols = key_list + ["_m", "_d", "_h"]
    # avg() ignores NULLs, so one pass serves every column's cascade
    levels = (
        nn.groupingSets([gcols, key_list, []], *gcols)
        .agg(
            *[F.avg(vc).alias(f"_mean_{vc}") for vc in vcols],
            F.grouping_id().alias("_gid"),
        )
    )
    n = len(gcols)
    slot_gid, series_gid, global_gid = 0, (1 << 3) - 1, (1 << n) - 1
    profile = levels.filter(F.col("_gid") == slot_gid).select(
        *gcols, *[F.col(f"_mean_{vc}").alias(f"_slot_{vc}") for vc in vcols]
    )
    series_mean = levels.filter(F.col("_gid") == series_gid).select(
        *key_list, *[F.col(f"_mean_{vc}").alias(f"_series_{vc}") for vc in vcols]
    )
    # the global row vanishes on empty input; a left join against a
    # one-row frame keeps the cascade well-defined (fills stay NULL)
    spark = df.sparkSession
    global_mean = (
        spark.range(1)
        .select(F.lit(1).alias("_one"))
        .join(
            F.broadcast(
                levels.filter(F.col("_gid") == global_gid).select(
                    F.lit(1).alias("_one"),
                    *[F.col(f"_mean_{vc}").alias(f"_global_{vc}") for vc in vcols],
                )
            ),
            "_one",
            "left",
        )
        .drop("_one")
    )

    out = (
        tagged.withColumn("_m", F.month(ts))
        .withColumn("_d", F.dayofmonth(ts))
        .withColumn("_h", F.hour(ts))
        .join(F.broadcast(profile), key_list + ["_m", "_d", "_h"], "left")
        .join(F.broadcast(series_mean), key_list, "left")
        .crossJoin(F.broadcast(global_mean))
    )
    for vc in vcols:
        fill = F.coalesce(
            F.col(f"_slot_{vc}"), F.col(f"_series_{vc}"), F.col(f"_global_{vc}")
        )
        if fill_round_digits is not None:
            fill = rnd(fill, fill_round_digits)
        out = out.withColumn(
            vc,
            F.when(
                F.col(vc).isNull() & (F.col(f"_gap_{vc}") >= min_gap_len), fill
            ).otherwise(F.col(vc)),
        )
        drop_cols += [f"_slot_{vc}", f"_series_{vc}", f"_global_{vc}"]
    return out.drop("_m", "_d", "_h", *drop_cols)


def impute_missing_values(
    df: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    keys: Sequence[str],
    short_gap_max: int = 3,
    fill_round_digits: int | None = None,
) -> DataFrame:
    """T5 — the orchestrated pipeline: long gaps via historical average
    (native), then short gaps via spline (pandas UDF); all value columns
    in one pass of each stage.

    Same fill policy as the reference (impute_missing.py:191-457):
    gap-run classification per station × column, len <= short_gap_max →
    spline, longer → calendar-slot cascade. One deliberate deviation,
    for a determinism the reference lacks: the reference mutates the
    series array in place while iterating gaps, so each gap's anchors
    depend on scan order (earlier fills become anchors, later ones do
    not). Here the two phases are order-free — historical fills land
    first everywhere, then one spline pass sees (original + historical)
    values as anchors — so results do not depend on gap iteration order.
    """
    out = historical_average_impute(
        df,
        ts_col,
        value_cols,
        keys,
        min_gap_len=short_gap_max + 1,
        fill_round_digits=fill_round_digits,
    )
    return spline_impute_short_gaps(
        out, ts_col, value_cols, keys, short_gap_max=short_gap_max
    )


def impute_stats(df: DataFrame, value_cols: Sequence[str]) -> DataFrame:
    """A9 — per-column null count / mean / std report (debug stats,
    impute_missing.py:241-257)."""
    aggs = []
    for vc in value_cols:
        aggs += [
            F.sum(F.col(vc).isNull().cast("int")).alias(f"{vc}_nulls"),
            rnd(F.avg(vc), 6).alias(f"{vc}_mean"),
            rnd(F.stddev_samp(vc), 6).alias(f"{vc}_std"),
        ]
    return df.agg(*aggs)
