"""Analytic signal (Hilbert transform).

Reference: ``hilbert`` at ``/root/reference/xarray_scipy/signal.py:
279-327``. Output is complex -> twin re/im columns; the envelope
(|analytic|, the reference leaves it to xarray's ``abs``) is exposed as
a native SQL expression via
:func:`xarray_scipy_spark.functions.complexsql.magnitude`.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core import apply_series_kernel, per_length, resolve_keep_attrs
from ..functions.complexsql import magnitude
from ..functions.coords import linear_coord, restore_coord_dtype
from ..kernels.dsp import hilbert_1d

__all__ = ["hilbert", "envelope"]


def hilbert(
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    n: int | None = None,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Analytic signal along ``dim`` per group.

    Output ``[*by, idx, re, im, <dim>, n_in, offset, delta]``. When ``n``
    is given the series is resized and the coordinate re-spaced over the
    original span — ``offset + idx·(n_in·delta/n)`` — the datetime-safe
    linspace the reference builds at signal.py:314-325 reduced to native
    arithmetic (coords are kept numeric/epoch internally, SURVEY.md §7).
    """

    def kernel(x):
        out = hilbert_1d(x, n=n)
        return {"re": np.real(out), "im": np.imag(out)}

    res = apply_series_kernel(
        df,
        per_length(kernel),
        by=by,
        order=dim,
        values=[value],
        out_fields="re double, im double",
        keep=resolve_keep_attrs(df, keep_attrs),
    )
    if n is None:
        coord = linear_coord("idx", "offset", "delta")
    else:
        coord = linear_coord(
            "idx", "offset", F.col("n_in").cast("double") * F.col("delta") / F.lit(float(n))
        )
    return res.withColumn(dim, restore_coord_dtype(df, dim, coord))


def envelope(df: DataFrame, re: str = "re", im: str = "im", out: str = "envelope") -> DataFrame:
    """|analytic| as a native SQL projection over hilbert output."""
    return df.withColumn(out, magnitude(re, im))
