"""Continuous wavelet transform (``scipy.signal.cwt`` with the ricker
/ "Mexican hat" wavelet).

The CWT at W widths is W independent same-mode FIR convolutions of
each series with precomputed wavelet taps — linear, finite-support,
and batchable. One grouped-kernel exchange computes ALL widths in a
single pass (the per-width convolutions share the co-located series
block), emitting a position-major flat layout so the ragged batch
stays a contiguous prefix per row: ``idx = pos·W + width_idx``. Width
and time coordinates are recovered natively in SQL from ``idx`` — the
same native-coordinate discipline as the STFT family.

scipy semantics notes: wavelet length is ``min(10·width, n)``
(clipped per series; pick widths ≤ n/10 to keep taps series-
independent — the operator raises otherwise rather than silently
switching taps mid-column), and the ricker is symmetric, so scipy's
``wavelet(...)[::-1]`` reversal is a no-op.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core import apply_series_kernel, resolve_keep_attrs
from ..functions.coords import linear_coord, restore_coord_dtype
from ..kernels.dsp import fftconvolve_1d

__all__ = ["cwt_ricker", "ricker_taps"]


def ricker_taps(points: int, a: float) -> np.ndarray:
    """Ricker (Mexican-hat) wavelet, scipy.signal.ricker definition:
    ``A·(1 − (t/a)²)·exp(−t²/(2a²))`` with ``A = 2/(√(3a)·π^¼)`` over
    ``points`` samples centered on ``(points−1)/2``."""
    points, a = int(points), float(a)
    if points < 1 or a <= 0:
        raise ValueError("points must be >= 1 and a > 0")
    amp = 2.0 / (np.sqrt(3.0 * a) * np.pi**0.25)
    t = np.arange(points, dtype=float) - (points - 1) / 2.0
    return amp * (1.0 - (t / a) ** 2) * np.exp(-(t**2) / (2.0 * a**2))


def cwt_ricker(
    df: DataFrame,
    widths: Sequence[float],
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Ricker CWT of each series at ``widths`` scales in ONE kernel
    exchange. Output: one row per (series, sample, width) with
    ``pos = idx div W``, ``width_idx = idx % W``, the ``width`` value,
    the passthrough time coordinate, and the response ``value``.
    """
    widths = [float(w) for w in widths]
    if not widths:
        raise ValueError("widths must be non-empty")
    taps = [ricker_taps(int(10 * w), w) for w in widths]
    nw = len(widths)
    min_pts = max(t.shape[0] for t in taps)

    def kernel(x, lengths):
        if lengths.min() < min_pts:
            raise ValueError(
                f"series shorter than the longest wavelet ({min_pts} points): "
                "scipy would clip taps per series; pick smaller widths or "
                "filter short series upstream"
            )
        k, n_max = x.shape
        ys = [fftconvolve_1d(x, t, mode="same") for t in taps]
        out = np.stack(ys, axis=-1).reshape(k, n_max * nw)
        return {"value": out, "__lengths__": lengths * nw}

    res = apply_series_kernel(
        df,
        kernel,
        by=by,
        order=dim,
        values=[value],
        out_fields="value double",
        keep=resolve_keep_attrs(df, keep_attrs),
    )
    pos = F.floor(F.col("idx") / nw).cast("bigint")
    widx = (F.col("idx") % nw).cast("int")
    coord = linear_coord(pos, "offset", "delta")
    return (
        res.withColumn("pos", pos)
        .withColumn("width_idx", widx)
        .withColumn(
            "width", F.element_at(F.array(*[F.lit(w) for w in widths]), widx + 1)
        )
        .withColumn(dim, restore_coord_dtype(df, dim, coord))
    )
