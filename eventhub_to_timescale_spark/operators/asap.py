"""Q6 — ASAP smoothing (reference db/get_sampled_data.sql, delegating
to Timescale Toolkit ``asap_smooth``; algorithm: Rong & Bailis,
"ASAP: Prioritizing Attention via Time Series Smoothing", VLDB 2017).

ASAP picks a simple-moving-average window that minimizes the roughness
(std-dev of the first difference) of the smoothed series while
preserving its kurtosis (≥ original), searching candidate windows
guided by autocorrelation peaks.

Spark-first realization: after the dimension/time filter the series is
ONE group per (subject, of) — small relative to the table (this is a
plotting downsample; `resolution` ≤ a few thousand). So the search runs
as an Arrow-batched ``applyInPandas`` grouped-map (the sanctioned
custom-operator escape hatch, SURVEY §4), while the heavy lifting —
the scan, filter, and pre-aggregation down to `resolution × 4` points —
stays in codegen'd DataFrame ops. At 100 TB the per-group payload is
bounded by the pre-aggregation, not the raw row count.
"""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.functions.scalars import epoch_bucket
from eventhub_to_timescale_spark.operators.timeseries import _slice, _sorted_answer
from eventhub_to_timescale_spark.plans.adaptive import resolution_bucket_seconds

_OUT_SCHEMA = "time timestamp, smoothed_value double"


def _acf(x: np.ndarray, max_lag: int) -> np.ndarray:
    x = x - x.mean()
    n = len(x)
    denom = float((x * x).sum()) or 1.0
    # 9dp rounding: the ACF values only feed >-comparisons (peak
    # detection) that the DuckDB oracle replays with its own summation
    # order; collapsing sub-1e-9 differences keeps a last-ulp near-tie
    # from flipping a peak on one engine only (|acf| ≤ 1, so 9dp is
    # far coarser than ulp noise)
    return np.round(
        [float((x[: n - k] * x[k:]).sum()) / denom for k in range(1, max_lag + 1)],
        9,
    )


def _kurtosis(x: np.ndarray) -> float:
    n = len(x)
    if n < 2:
        return 0.0
    m = x.mean()
    s2 = float(((x - m) ** 2).mean())
    if s2 == 0:
        return 0.0
    # 9dp: comparison-only metric, mirrored in the oracle (see _acf)
    return round(float(((x - m) ** 4).mean()) / (s2 * s2), 9)


def _roughness(x: np.ndarray) -> float:
    if len(x) < 2:
        return 0.0
    # 9dp: comparison-only metric, mirrored in the oracle (see _acf);
    # grid values are 6dp-rounded series averages, so roughness stays
    # O(value scale) where a 1e-9 bin is far above ulp noise
    return round(float(np.std(np.diff(x))), 9)


def _sma(x: np.ndarray, w: int) -> np.ndarray:
    if w <= 1:
        return x
    c = np.convolve(x, np.ones(w) / w, mode="valid")
    return c


def asap_core(ts: np.ndarray, vs: np.ndarray, resolution: int) -> tuple[np.ndarray, np.ndarray]:
    """The ASAP window search on an in-memory series. Returns
    (times, smoothed) downsampled to ≤ resolution points."""
    n = len(vs)
    if n == 0:
        return ts, vs
    orig_kurt = _kurtosis(vs)
    best_w, best_rough = 1, _roughness(vs)
    max_w = max(1, n // 10)
    # candidate windows from autocorrelation peaks (paper §4), plus a
    # coarse grid fallback so degenerate ACFs still get candidates
    acf = _acf(vs, min(max_w, n - 1)) if n > 2 else np.array([])
    peaks = [
        k + 1
        for k in range(1, len(acf) - 1)
        if acf[k] > acf[k - 1] and acf[k] > acf[k + 1] and acf[k] > 0.2
    ]
    grid = list(range(2, max_w + 1, max(1, max_w // 16)))
    for w in sorted(set(peaks + grid)):
        if w < 2 or w > max_w:
            continue
        sm = _sma(vs, w)
        if len(sm) < 2:
            continue
        if _kurtosis(sm) >= orig_kurt and _roughness(sm) < best_rough:
            best_rough = _roughness(sm)
            best_w = w
    sm = _sma(vs, best_w)
    t_out = ts[best_w - 1 :] if best_w > 1 else ts
    # downsample to resolution points (stride sampling — ASAP's output
    # is for plotting; stride preserves shape after smoothing).
    # floor(x + 0.5) instead of np.round: half-up is reproducible in
    # plain SQL (the DuckDB oracle), banker's rounding is not.
    if len(sm) > resolution:
        idx = np.floor(np.linspace(0, len(sm) - 1, resolution) + 0.5).astype(int)
        sm = sm[idx]
        t_out = t_out[idx]
    return t_out, sm


def moving_average_smooth(
    conditions: DataFrame,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
    resolution: int = 360,
    window_k: int = 2,
) -> DataFrame:
    """The cheap SQL-expressible smoothing fallback from SURVEY §2.3
    Q6: pre-aggregate to a ``resolution`` grid, then a centered
    moving average over ±``window_k`` grid points
    (``rowsBetween(-k, k)``). Fully oracle-checkable, unlike the
    adaptive ASAP search; use when a fixed window is acceptable."""
    from pyspark.sql import Window

    bucket_s = resolution_bucket_seconds(start, end, resolution)
    sliced = _slice(
        conditions, subject, of, start, end, F.col("measurement_number").isNotNull()
    )
    grid = sliced.groupBy(
        epoch_bucket(F.col("timestamp"), bucket_s).alias("time")
    ).agg(F.avg("measurement_number").alias("value"))
    w = Window.orderBy("time").rowsBetween(-window_k, window_k)
    return _sorted_answer(
        grid.select(
            "time", F.round(F.avg("value").over(w), 6).alias("smoothed_value")
        ),
        "time",
    )


def lttb_core(ts: np.ndarray, vs: np.ndarray, n_out: int) -> tuple[np.ndarray, np.ndarray]:
    """Largest-Triangle-Three-Buckets (Steinarsson 2013): downsample to
    ``n_out`` points preserving visual shape — first/last points kept,
    each middle bucket contributes the point forming the largest
    triangle with the previous pick and the next bucket's centroid."""
    n = len(vs)
    if n_out >= n or n_out < 3:
        return ts, vs
    t = ts.astype("datetime64[us]").astype("int64").astype(float) if ts.dtype.kind == "M" else ts.astype(float)
    idx_out = [0]
    # floor(x + 0.5) half-up rounding: SQL-portable (see asap_core note)
    bucket_edges = np.floor(np.linspace(1, n - 1, n_out - 1) + 0.5).astype(int)
    a = 0
    for i in range(n_out - 2):
        lo, hi = bucket_edges[i], bucket_edges[i + 1]
        nlo, nhi = hi, bucket_edges[i + 2] if i + 2 < len(bucket_edges) else n
        cx, cy = t[nlo:nhi].mean(), vs[nlo:nhi].mean()
        ax, ay = t[a], vs[a]
        areas = np.abs(
            (ax - cx) * (vs[lo:hi] - ay) - (ax - t[lo:hi]) * (cy - ay)
        )
        a = lo + int(areas.argmax())
        idx_out.append(a)
    idx_out.append(n - 1)
    sel = np.array(idx_out)
    return ts[sel], vs[sel]


def lttb_downsample(
    conditions: DataFrame,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
    resolution: int = 500,
) -> DataFrame:
    """→ (time, value): LTTB plotting downsample of one series —
    the shape-preserving alternative to ASAP's smoothing (Grafana's
    own downsampler). Same execution shape as ``asap_smooth``: filters
    + pre-aggregation stay in codegen, the sequential selection runs
    once per bounded series in Arrow-batched pandas."""
    sliced = _slice(
        conditions, subject, of, start, end, F.col("measurement_number").isNotNull()
    )
    pre_bucket = resolution_bucket_seconds(start, end, resolution * 4)
    # grid values rounded to 6dp BEFORE selection: both engines (Spark
    # here, DuckDB in the oracle) then run the deterministic selection
    # on bit-identical inputs, so the picked indexes can't diverge on
    # last-ulp aggregation-order noise
    grid = sliced.groupBy(
        epoch_bucket(F.col("timestamp"), pre_bucket).alias("time")
    ).agg(F.round(F.avg("measurement_number"), 6).alias("value"))

    def _sample(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time")
        t, v = lttb_core(
            pdf["time"].to_numpy(), pdf["value"].to_numpy(dtype=float), resolution
        )
        return pd.DataFrame({"time": t, "value": v})

    return _sorted_answer(
        grid.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(_sample, schema="time timestamp, value double"),
        "time",
    )


def asap_smooth(
    conditions: DataFrame,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
    resolution: int = 500,
) -> DataFrame:
    """→ (time, smoothed_value), ≤ ``resolution`` rows, ordered by time."""
    sliced = _slice(
        conditions, subject, of, start, end, F.col("measurement_number").isNotNull()
    )
    # pre-aggregate to a bounded regular grid (resolution×4 buckets) so
    # the pandas stage sees O(resolution) points no matter the raw size
    pre_bucket = resolution_bucket_seconds(start, end, resolution * 4)
    # 6dp-rounded grid: the oracle's window search runs on bit-identical
    # inputs (see lttb_downsample note)
    grid = (
        sliced.groupBy(
            epoch_bucket(F.col("timestamp"), pre_bucket).alias("time")
        )
        .agg(F.round(F.avg("measurement_number"), 6).alias("value"))
    )

    def _smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time")
        t, v = asap_core(
            pdf["time"].to_numpy(), pdf["value"].to_numpy(dtype=float), resolution
        )
        return pd.DataFrame({"time": t, "smoothed_value": v})

    return _sorted_answer(
        grid.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(_smooth, schema=_OUT_SCHEMA)
        .select("time", F.round("smoothed_value", 6).alias("smoothed_value")),
        "time",
    )
