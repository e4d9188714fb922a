"""The three signal workloads: seeded inputs, one pass, output checks and
the single-threaded kernel baseline.

Each workload loads a different layer of the engine:

- ``short_batch``: many short ragged series through ``sosfiltfilt`` then
  ``welch``. The per-series work of the core layer (sort, series bounds,
  ragged padding, Arrow and pandas assembly) outweighs the kernel math.
- ``long_batch``: a few long channels through ``read_series``,
  ``sosfilt`` and ``write_series``. The per-sample IIR recursion in
  ``kernels.dsp.sosfilt_ragged`` dominates, and with few keys on few
  buckets the slowest bucket sets the pass time. It is the one workload
  that writes through ``sources.write``.
- ``stream_filter``: micro-batch files of many keys through
  ``streaming.sosfilt_stream``. The same IIR kernel runs once per key
  per micro-batch, with state store reads and writes around it.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from xarray_scipy_spark import operators, streaming
from xarray_scipy_spark.kernels import butter_sos
from xarray_scipy_spark.kernels.dsp import sosfilt_1d, sosfilt_ragged, sosfiltfilt_ragged
from xarray_scipy_spark.sources.write import read_series, write_series

FS = 1000.0
SOS = butter_sos(4, 0.1)
FRAME = 64
HOP = FRAME // 2
BINS = FRAME // 2 + 1
RTOL = 1e-9
# a streaming pass that has not ended by then is a failure; the limit
# keeps a whole run inside its time budget
QUERY_TIMEOUT_S = 60


@dataclass
class Pass:
    """What one pass reports: for a stream, the progress of each
    micro-batch that read rows."""

    progress: list[dict] | None = None

    @property
    def units(self) -> int:
        """Measured units of work: the pass itself, or the micro-batches
        after the first, which pays for query start and empty state."""
        return 1 if self.progress is None else len(self.progress) - 1


def _signals(rng: np.random.Generator, lengths: np.ndarray) -> list[np.ndarray]:
    """A tone of random frequency and phase plus white noise per series."""
    out = []
    for n in lengths:
        t = np.arange(n) / FS
        f0 = rng.uniform(5.0, 200.0)
        ph = rng.uniform(0.0, 2 * np.pi)
        out.append(np.sin(2 * np.pi * f0 * t + ph) + 0.3 * rng.standard_normal(n))
    return out


def _close(have: np.ndarray, want: np.ndarray) -> bool:
    """Equal shapes and values within RTOL of the reference's scale."""
    scale = max(1.0, float(np.abs(want).max(initial=0.0)))
    return have.shape == want.shape and np.allclose(have, want, rtol=RTOL, atol=RTOL * scale)


def _padded(rows: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    lengths = np.array([len(r) for r in rows], dtype=np.int64)
    x = np.zeros((len(rows), int(lengths.max())))
    for i, r in enumerate(rows):
        x[i, : len(r)] = r
    return x, lengths


def welch_block(x: np.ndarray) -> np.ndarray:
    """Welch power of equal-length rows: periodic Hann frames of FRAME
    samples at hop FRAME/2, mean periodogram, one-sided fold, divided by
    the window energy (scipy ``welch(..., scaling='density') * fs``)."""
    m = np.arange(FRAME)
    taps = 0.5 - 0.5 * np.cos(2 * np.pi * m / FRAME)
    n_frames = (x.shape[1] - FRAME) // HOP + 1
    idx = np.arange(n_frames)[:, None] * HOP + m[None, :]
    spec = np.fft.rfft(x[:, idx] * taps, axis=-1)
    fold = np.full(BINS, 2.0)
    fold[0] = fold[-1] = 1.0
    return (np.abs(spec) ** 2).mean(axis=1) * fold / np.sum(taps**2)


def _partition_groups(df, key: str) -> list[list[int]]:
    """Series keys grouped by the Spark partition that emitted them.
    Read from the kernel stage's output, so the single-threaded baseline
    runs the same blocks the engine ran, learnt without reading engine
    internals."""
    rows = (
        df.select(key, F.spark_partition_id().alias("p")).distinct().collect()
    )
    groups: dict[int, list[int]] = {}
    for r in rows:
        groups.setdefault(r["p"], []).append(r[key])
    return [sorted(g) for _, g in sorted(groups.items())]


class ShortBatch:
    name = "short_batch"
    settle_passes = 2

    def __init__(self, n_series: int, min_len: int, max_len: int, n_files: int):
        self.n_series, self.min_len, self.max_len = n_series, min_len, max_len
        self.n_files = n_files

    def generate(self, root: Path, rng: np.random.Generator) -> None:
        self.dir = root / self.name
        self.dir.mkdir(parents=True)
        # the same lengths for every seed, in seeded order: the seed moves
        # the data, not the amount of work
        lengths = rng.permutation(
            np.linspace(self.min_len, self.max_len, self.n_series).round().astype(np.int64)
        )
        self.series = _signals(rng, lengths)
        self.samples = int(lengths.sum())
        self.rows_out = self.n_series * BINS
        self.check_ids = sorted(
            rng.choice(self.n_series, min(32, self.n_series), replace=False).tolist()
        )
        ids = np.repeat(np.arange(self.n_series, dtype=np.int64), lengths)
        t = np.concatenate([np.arange(n) / FS for n in lengths])
        v = np.concatenate(self.series)
        # rows land in the files in seeded random order: the engine, not
        # the writer, has to bring each series together
        perm = rng.permutation(len(ids))
        for i, part in enumerate(np.array_split(perm, self.n_files)):
            table = pa.table({"series": ids[part], "t": t[part], "value": v[part]})
            pq.write_table(table, self.dir / f"part-{i:03d}.parquet")

    def open(self, spark):
        return spark.read.parquet(str(self.dir))

    def _plan(self, df):
        filt = operators.sosfiltfilt(SOS, df, by=["series"], dim="t")
        return operators.welch(filt, by=["series"], dim="t", frame_len=FRAME)

    def run_pass(self, spark, df, tracer) -> Pass:
        with tracer.span("operators.plan"):
            out = self._plan(df)
        with tracer.span("sink"):
            out.write.format("noop").mode("overwrite").save()
        return Pass()

    warm_up = run_pass

    def check(self, spark, df) -> list[str]:
        got = self._plan(df).select("series", "idx", "power").toPandas()
        problems = []
        counts = got.groupby("series").size()
        if len(counts) != self.n_series or (counts != BINS).any():
            problems.append(
                f"expected {BINS} bins for each of {self.n_series} series, got "
                f"{len(counts)} series with {sorted(set(counts.tolist()))} bins"
            )
        x, lengths = _padded([self.series[i] for i in self.check_ids])
        y = sosfiltfilt_ragged(SOS, x, lengths)
        got = got[got["series"].isin(self.check_ids)].sort_values(["series", "idx"])
        for row, sid in enumerate(self.check_ids):
            want = welch_block(y[row : row + 1, : lengths[row]])[0]
            have = got.loc[got["series"] == sid, "power"].to_numpy()
            if not _close(have, want):
                problems.append(f"series {sid}: Welch power differs from the reference")
        return problems

    def single_thread_s(self, spark, df) -> float:
        groups = _partition_groups(self._plan(df), "series")
        t0 = time.perf_counter()
        for ids in groups:
            x, lengths = _padded([self.series[i] for i in ids])
            y = sosfiltfilt_ragged(SOS, x, lengths)
            for n in np.unique(lengths):
                welch_block(y[lengths == n, :n])
        return time.perf_counter() - t0


class LongBatch:
    name = "long_batch"
    settle_passes = 2

    def __init__(self, n_channels: int, n_samples: int):
        self.n_channels, self.n_samples = n_channels, n_samples

    def generate(self, root: Path, rng: np.random.Generator) -> None:
        self.dir = root / self.name
        self.out_dir = root / f"{self.name}_out"
        self.dir.mkdir(parents=True)
        lengths = np.full(self.n_channels, self.n_samples)
        self.series = _signals(rng, lengths)
        self.samples = self.n_channels * self.n_samples
        self.rows_out = self.samples
        t = np.arange(self.n_samples) / FS
        table = pa.table(
            {
                "ch": np.arange(self.n_channels, dtype=np.int64),
                "t_arr": [t] * self.n_channels,
                "value_arr": self.series,
            }
        )
        pq.write_table(table, self.dir / "part-000.parquet")

    def open(self, spark):
        return read_series(spark, str(self.dir), by=["ch"], dim="t")

    def _plan(self, df):
        return operators.sosfilt(SOS, df, by=["ch"], dim="t")

    def run_pass(self, spark, df, tracer) -> Pass:
        with tracer.span("operators.plan"):
            out = self._plan(df)
        with tracer.span("sink"):
            write_series(out, str(self.out_dir), by=["ch"], dim="t", mode="overwrite")
        return Pass()

    warm_up = run_pass

    def check(self, spark, df) -> list[str]:
        got = read_series(spark, str(self.out_dir), by=["ch"], dim="t").toPandas()
        want, _ = sosfilt_ragged(SOS, np.stack(self.series), np.full(self.n_channels, self.n_samples))
        problems = []
        for ch in range(self.n_channels):
            have = got[got["ch"] == ch].sort_values("t")["value"].to_numpy()
            if not _close(have, want[ch]):
                problems.append(f"channel {ch}: read_series after write_series differs from sosfilt_ragged")
        return problems

    def single_thread_s(self, spark, df) -> float:
        groups = _partition_groups(self._plan(df), "ch")
        t0 = time.perf_counter()
        for ids in groups:
            x = np.stack([self.series[i] for i in ids])
            sosfilt_ragged(SOS, x, np.full(len(ids), self.n_samples))
        return time.perf_counter() - t0


class StreamFilter:
    name = "stream_filter"
    # a pass is one long query; its first micro-batch is left out instead
    settle_passes = 0
    schema = "key bigint, t double, value double"

    def __init__(self, n_keys: int, per_batch: int, n_files: int):
        self.n_keys, self.per_batch, self.n_files = n_keys, per_batch, n_files
        self._queries = 0

    def generate(self, root: Path, rng: np.random.Generator) -> None:
        self.dir = root / self.name
        self.warm_dir = root / f"{self.name}_warmup"
        self.ckpt = root / f"{self.name}_ckpt"
        self.dir.mkdir(parents=True)
        self.warm_dir.mkdir()
        n = self.per_batch * self.n_files
        self.series = _signals(rng, np.full(self.n_keys, n))
        self.samples = self.n_keys * n
        self.rows_out = self.samples
        keys = np.repeat(np.arange(self.n_keys, dtype=np.int64), self.per_batch)
        # the file source takes files oldest first, one per micro-batch:
        # distinct, increasing mtimes fix the order the samples arrive in
        base = time.time() - self.n_files
        for i in range(self.n_files):
            sl = slice(i * self.per_batch, (i + 1) * self.per_batch)
            t = np.tile(np.arange(n)[sl] / FS, self.n_keys)
            v = np.concatenate([s[sl] for s in self.series])
            table = pa.table({"key": keys, "t": t, "value": v})
            path = self.dir / f"batch-{i:04d}.parquet"
            pq.write_table(table, path)
            os.utime(path, (base + i, base + i))
            if i == 0:
                pq.write_table(table, self.warm_dir / path.name)

    def open(self, spark):
        """The input stream, and a one-file stream for the warm-up pass:
        the stream's unit of work is one micro-batch."""

        def source(path: Path):
            return (
                spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(path))
            )

        return source(self.dir), source(self.warm_dir)

    def _query(self, sdf, tracer) -> list[dict]:
        """Run the stream over every input file into a memory table and
        let it end by itself (``availableNow``): a query is never stopped
        with a batch in flight. A query exception is raised, so the pass
        counts as failed. Returns the progress of each micro-batch that
        read rows."""
        self._queries += 1
        with tracer.span("operators.plan"):
            out = streaming.sosfilt_stream(sdf, SOS, by=["key"], dim="t")
        w = (
            out.writeStream.format("memory")
            .queryName(f"perfbench_{self._queries}")
            .option("checkpointLocation", str(self.ckpt / str(self._queries)))
            .trigger(availableNow=True)
        )
        with tracer.span("sink"):
            q = w.start()
            # raises the query's own exception if it failed
            done = q.awaitTermination(QUERY_TIMEOUT_S)
        if not done:
            q.stop()
            raise TimeoutError(f"streaming query still running after {QUERY_TIMEOUT_S} s")
        progress = [json.loads(p.json) for p in q.recentProgress]
        return sorted((p for p in progress if p["numInputRows"]), key=lambda p: p["batchId"])

    def warm_up(self, spark, handle, tracer) -> Pass:
        self._query(handle[1], tracer)
        return Pass()

    def run_pass(self, spark, handle, tracer) -> Pass:
        if self._queries:  # keep only the newest output table
            spark.catalog.dropTempView(f"perfbench_{self._queries}")
        progress = self._query(handle[0], tracer)
        if len(progress) != self.n_files:
            raise RuntimeError(f"expected {self.n_files} micro-batches, ran {len(progress)}")
        return Pass(progress)

    def check(self, spark, handle) -> list[str]:
        """The last pass's output, per key, against ``sosfilt_1d`` over
        the whole series."""
        got = spark.sql(f"SELECT key, idx, value FROM perfbench_{self._queries}").toPandas()
        want = sosfilt_1d(SOS, np.stack(self.series))
        problems = []
        n = self.per_batch * self.n_files
        for key, g in got.groupby("key"):
            g = g.sort_values("idx")
            if not np.array_equal(g["idx"].to_numpy(), np.arange(n)):
                problems.append(f"key {key}: idx is not 0..{n - 1}")
            elif not _close(g["value"].to_numpy(), want[key]):
                problems.append(f"key {key}: streamed output differs from sosfilt_1d")
        if got["key"].nunique() != self.n_keys:
            problems.append(f"expected {self.n_keys} keys, got {got['key'].nunique()}")
        return problems

    def single_thread_s(self, spark, sdf) -> float:
        # the engine calls the kernel once per key per micro-batch and
        # carries the section state between batches; so does this
        t0 = time.perf_counter()
        for s in self.series:
            zi = np.zeros((SOS.shape[0], 2))
            for i in range(self.n_files):
                _, zi = sosfilt_1d(SOS, s[i * self.per_batch : (i + 1) * self.per_batch], zi=zi)
        return time.perf_counter() - t0


def make(name: str, smoke: bool):
    """The workload at benchmark size, or at toy size for ``--smoke``."""
    if name == "short_batch":
        return ShortBatch(60, 64, 256, 2) if smoke else ShortBatch(600, 64, 1024, 4)
    if name == "long_batch":
        return LongBatch(2, 2000) if smoke else LongBatch(8, 20000)
    if name == "stream_filter":
        return StreamFilter(8, 16, 3) if smoke else StreamFilter(150, 48, 9)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("short_batch", "long_batch", "stream_filter")
