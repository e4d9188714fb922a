"""FFT family: fft/ifft/rfft/irfft/hfft/ihfft + fftshift/ifftshift.

Reference: the ``_fft_wrap`` factory at ``/root/reference/xarray_scipy/
signal.py:155-241`` (kernels) and ``_fftshift_wrap`` at signal.py:244-276.

Design:
- values cross JVM->Python once per group through the core primitive
  (:func:`xarray_scipy_spark.core.apply_series_kernel`) and run
  ``np.fft`` on the whole series batch;
- complex results are twin ``re``/``im`` double columns (no complex
  dtype in Spark, SURVEY.md §1.5);
- the frequency coordinate is generated NATIVELY in Spark SQL from the
  group-constant n/delta columns (reference does this eagerly on the
  driver at signal.py:198-226) — see
  :mod:`xarray_scipy_spark.functions.coords`;
- ``norm`` is fully supported (the reference rejects it under dask,
  signal.py:180-182 — a limitation Spark doesn't have);
- the reference's double normalization of the bin spacing
  (signal.py:221) is deliberately NOT reproduced; we implement the
  standard ``1/(n·delta)`` spacing its own tests intend
  (test_signal.py:335-337; SURVEY.md §2.2 #5).
- fftshift/ifftshift are PURE SQL — a modular index remap over a window,
  no Python, no extra shuffle beyond the window exchange (reference
  shifts values and coords with the same permutation, signal.py:257-266,
  so the pair travels together and only the position changes).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..core import apply_series_kernel, per_length, resolve_keep_attrs
from ..functions.coords import fft_coord, rfft_coord

__all__ = ["fft", "ifft", "rfft", "irfft", "hfft", "ihfft", "fftshift", "ifftshift"]

_COMPLEX_OUT = {"fft", "ifft", "rfft", "ihfft"}


def _make_fft(kind: str, inverse: bool, real: bool = False, hermitian: bool = False):
    complex_out = kind in _COMPLEX_OUT

    def op(
        df: DataFrame,
        *,
        by: Sequence[str],
        dim: str,
        values: Sequence[str] = ("value",),
        newdim: str = "frequency",
        n: int | None = None,
        norm: str | None = None,
        order: str | Sequence[str] | None = None,
        keep_attrs: bool | None = None,
    ) -> DataFrame:
        if newdim in list(by) or newdim == dim:
            # reference collision check, signal.py:223-224
            raise ValueError(f"Coordinates already exist for dimension: {newdim}")
        values = list(values)
        npfunc = getattr(np.fft, kind)

        def kernel(*blocks):
            x = blocks[0] if len(blocks) == 1 else blocks[0] + 1j * blocks[1]
            out = npfunc(x, n=n, norm=norm, axis=-1)
            if complex_out:
                return {"re": np.real(out).astype(float), "im": np.imag(out).astype(float)}
            return {"value": np.real(out).astype(float)}

        if order is None:
            # Inverse transforms consume a spectrum whose rows must arrive
            # in BIN order (0..n-1), not sorted by the signed frequency
            # coordinate (which puts negative frequencies first). When the
            # input carries a positional `idx` column (every forward op
            # emits one), default to it for the inverse direction.
            order = "idx" if inverse and "idx" in df.columns else dim

        out_fields = "re double, im double" if complex_out else "value double"
        res = apply_series_kernel(
            df,
            per_length(kernel),
            by=by,
            order=order,
            values=values,
            out_fields=out_fields,
            keep=resolve_keep_attrs(df, keep_attrs),
        )

        # logical DFT size for the coordinate formula (signal.py:199-219)
        if n is not None:
            ndim = F.lit(n).cast("bigint")
        elif (real and inverse) or (hermitian and not inverse):
            ndim = ((F.col("n_in") - 1) * 2).cast("bigint")
        else:
            ndim = F.col("n_in")
        use_rfftfreq = (real and not inverse) or (hermitian and inverse)
        coord = (
            rfft_coord("idx", ndim, "delta")
            if use_rfftfreq
            else fft_coord("idx", ndim, "delta")
        )
        return res.withColumn(newdim, coord)

    # reference `_wrap` parity (signal.py:25-31): carry the kernel's
    # name AND a docstring onto the generated wrapper
    op.__name__ = kind
    op.__doc__ = (
        f"``np.fft.{kind}`` along ``dim`` per ``by`` group (reference "
        f"factory signal.py:155-241).\n\n"
        "    Output ``[*by, idx, "
        + ("re, im" if complex_out else "value")
        + ", <newdim>, n_in, offset, delta]`` with the frequency "
        "coordinate generated natively in SQL "
        "(:mod:`xarray_scipy_spark.functions.coords`); ``n`` pads or "
        "truncates, ``norm`` is fully supported (the reference rejects "
        "it under dask, signal.py:180-182)."
    )
    return op


fft = _make_fft("fft", inverse=False)
ifft = _make_fft("ifft", inverse=True)
rfft = _make_fft("rfft", inverse=False, real=True)
irfft = _make_fft("irfft", inverse=True, real=True)
hfft = _make_fft("hfft", inverse=False, hermitian=True)
ihfft = _make_fft("ihfft", inverse=True, hermitian=True)


def _make_fftshift(kind: str):
    forward = kind == "fftshift"

    def op(
        df: DataFrame,
        *,
        by: Sequence[str],
        dim: str | None = None,
        dims: Sequence[str] | None = None,
        order: str | None = None,
        pos: str = "idx",
    ) -> DataFrame:
        """Rotate the zero-frequency bin to (from) the center: emit the
        destination position of each row under the fftshift permutation.
        Values and coordinates move together (reference applies the same
        permutation to both, signal.py:257-266), so this is a pure
        projection — only the position column is new.

        Multi-dim (reference ``dims`` list, signal.py:247-248, 257-266):
        the shift permutation is separable, one independent index remap
        per dim. Pass ``dims=[...]``; each dim ``d`` gets its own
        destination-position column ``{pos}_{d}``, computed over a
        window partitioned by the *other* dims (so the per-axis length
        is that axis's extent, not the group's row count). Single-dim
        calls emit just ``pos``.
        """
        if (dim is None) == (dims is None):
            raise ValueError("pass exactly one of dim= or dims=")
        dimlist = [dim] if dim is not None else list(dims)
        multi = len(dimlist) > 1
        out = df
        for d in dimlist:
            others = [o for o in dimlist if o != d]
            part = [*by, *others]
            w = Window.partitionBy(*part).orderBy(order or d)
            rn = F.row_number().over(w) - 1
            cnt = F.count(F.lit(1)).over(Window.partitionBy(*part))
            # np.fft.fftshift sends index k -> (k + n//2) % n; ifftshift
            # sends k -> (k + n - n//2) % n = (k + ceil(n/2)) % n. For
            # even n the two coincide; odd n distinguishes them
            # (reference sweeps odd/even at tests/test_signal.py:339-341).
            shift = F.floor(cnt / 2) if forward else (cnt - F.floor(cnt / 2))
            out = out.withColumn(f"{pos}_{d}" if multi else pos, (rn + shift) % cnt)
        return out

    op.__name__ = kind
    return op


fftshift = _make_fftshift("fftshift")
ifftshift = _make_fftshift("ifftshift")
