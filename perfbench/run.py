"""Signal-workload benchmark of xarray_scipy_spark.

Run from the repository root::

    python3 perfbench/run.py --workload short_batch --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --smoke

One workload per call prints a line per metric and, as its last line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. ``--workload all`` runs every workload untraced and
traced in child processes and prints the side-by-side tables, including
the tracing overhead. ``--smoke`` shrinks every workload to toy size.
See ``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("short_batch", "long_batch", "stream_filter")
# setup_s is the median of this many set-ups, each a fresh Spark session,
# an input open and one warm-up pass. Only the first also starts the JVM
N_SETUPS = 3
# fewest measured passes (micro-batches for a stream) a median is taken of
MIN_UNITS = 4
END_TO_END = {
    "samples_per_s": "1/s",
    "rows_per_s": "1/s",
    "batch_s_p50": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
# a layer a workload does not exercise reads 0
PER_LAYER = {
    "session.start_s": "s",
    "sources.open_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "operators.plan_s": "s",
    "operators.plan_jobs": "count",
    "core.tasks": "count",
    "core.shuffle_write_bytes": "bytes",
    "core.shuffle_records": "count",
    "core.python_bytes_sent": "bytes",
    "core.python_bytes_received": "bytes",
    "core.kernel_stage_s": "s",
    "core.executor_run_s": "s",
    "core.gc_s": "s",
    "core.busy_share": "ratio",
    "core.task_skew": "ratio",
    "kernels.single_thread_s": "s",
    "kernels.share": "ratio",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
}


def pin_environment(work: Path, trace: bool) -> dict[str, str]:
    """Pin the run environment so every commit runs the same way: all
    cores, a driver heap sized to the host's memory, workers that import the
    engine from this checkout, and every file Spark writes kept under
    ``work``. The traced run also turns on Spark's event log."""
    dirs = {d: work / d for d in ("local", "tmp", "events", "warehouse")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"].as_uri(),
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = dirs["events"].as_uri()
        # one plain JSON-lines file per application
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    submit = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, mem_mb // 4)}m",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(dirs["local"]),
        "TMPDIR": str(dirs["tmp"]),
        # the JVM spark-submit runs first to build the real command
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    return env


class Tally:
    """Attempted and failed passes. A pass fails when it raises or when
    its output check finds a problem."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # a failed pass is counted, reported and survived
            self.failed += 1
            traceback.print_exc()
            return None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every Python worker it forked have exited."""
    from pyspark import SparkContext

    from tracing import descendants

    workers = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if _alive(p)]
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def run_workload(name: str, seed: int, seconds: float, trace: bool, smoke: bool) -> int:
    import numpy as np

    from tracing import EventLog, RssSampler, Tracer
    from workloads import make
    from xarray_scipy_spark.session import get_spark

    work = ROOT / ".perfbench_work" / f"{name}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work, trace)
    print("perfbench env " + json.dumps(env), flush=True)
    cores = int(env["SPARK_GRAFT_CPUS"])
    wl = make(name, smoke)
    tracer = Tracer(trace)
    tally = Tally()
    setups: list[float] = []
    passes = []  # (wall seconds, Pass) of each timed pass that succeeded
    problems: list[str] = []
    single_s = None
    spark = None
    try:
        phases = {"start": time.perf_counter()}
        wl.generate(work / "data", np.random.default_rng(seed))
        phases["generate"] = time.perf_counter()
        with RssSampler() as rss:
            for _ in range(N_SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                with tracer.span("setup", new_pass=True):
                    with tracer.span("session.start"):
                        spark = get_spark("perfbench")
                    with tracer.span("sources.open"):
                        handle = wl.open(spark)
                    tally.attempt(lambda: wl.warm_up(spark, handle, tracer))
                setups.append(time.perf_counter() - t0)
            # passes keep speeding up for a few passes after the last
            # session start (JIT, fresh Python workers); time the plateau
            for _ in range(wl.settle_passes):
                with tracer.span("settle", new_pass=True):
                    tally.attempt(lambda: wl.run_pass(spark, handle, tracer))
            phases["setups"] = time.perf_counter()
            deadline = time.perf_counter() + seconds
            attempts = 0
            while time.perf_counter() < deadline or (
                sum(p.units for _, p in passes) < MIN_UNITS and attempts < 2 * MIN_UNITS
            ):
                attempts += 1
                t0 = time.perf_counter()
                with tracer.span("pass", new_pass=True):
                    res = tally.attempt(lambda: wl.run_pass(spark, handle, tracer))
                if res is not None:
                    passes.append((time.perf_counter() - t0, res))
            phases["measure"] = time.perf_counter()
            with tracer.span("check"):
                found = tally.attempt(lambda: wl.check(spark, handle))
            if found:
                tally.failed += 1
                problems = found
            if trace:
                with tracer.span("kernels.single_thread"):
                    single_s = wl.single_thread_s(spark, handle)
            phases["check"] = time.perf_counter()
            stop_spark(spark)
            spark = None
            phases["stop"] = time.perf_counter()
        log = EventLog.load(work / "events") if trace else None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # unless another run is using it
        except OSError:
            pass
    for p in problems:
        print(f"perfbench {name} check failed: {p}", file=sys.stderr)
    if not passes:
        print(f"perfbench {name}: no pass succeeded", file=sys.stderr)
        return 1

    e2e = end_to_end(wl, setups, passes, rss.peak)
    error_rate = tally.failed / tally.attempted
    for k, v in e2e.items():
        print(f"perfbench {name} {k} {v:.6g} {END_TO_END[k]}")
    print(f"perfbench {name} error_rate {error_rate:.6g} ratio")
    print(f"perfbench {name} setups " + " ".join(f"{s:.3f}" for s in setups))
    print(f"perfbench {name} passes " + " ".join(f"{w:.3f}" for w, _ in passes))
    print(f"perfbench {name} peak_rss by process " + " ".join(
        f"{comm}:{n}x{mb:.0f}MB" for comm, (n, mb) in sorted(rss.breakdown.items())
    ))
    names = list(phases)
    print(f"perfbench {name} phase seconds " + " ".join(
        f"{b}={phases[b] - phases[a]:.2f}" for a, b in zip(names, names[1:])
    ))
    print("perfbench-e2e " + json.dumps(e2e))
    if trace:
        layer = per_layer(wl, tracer, log, passes, single_s, cores)
        for k, v in layer.items():
            print(f"perfbench {name} {k} {v:.6g} {PER_LAYER[k]}")
        out = ROOT / ".perfbench_out" / f"{name}-seed{seed}-spans.jsonl"
        tracer.dump(out)
        print(f"perfbench {name} spans written to {out.relative_to(ROOT)}")
        metrics = {k: (v, PER_LAYER[k]) for k, v in layer.items()}
    else:
        metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _steady_batches(passes) -> list[dict]:
    """Micro-batches after the first of each streaming pass."""
    return [b for _, p in passes for b in p.progress[1:]]


def end_to_end(wl, setups, passes, peak_rss) -> dict[str, float]:
    if passes[0][1].progress is not None:
        steady = _steady_batches(passes)
        batch_s = statistics.median(b["durationMs"]["triggerExecution"] / 1e3 for b in steady)
        # every micro-batch reads one file of the same size; one streamed
        # row carries one sample
        rows_per_s = steady[0]["numInputRows"] / batch_s
        samples_per_s = rows_per_s
    else:
        batch_s = statistics.median(w for w, _ in passes)
        samples_per_s, rows_per_s = wl.samples / batch_s, wl.rows_out / batch_s
    return {
        "samples_per_s": samples_per_s,
        "rows_per_s": rows_per_s,
        "batch_s_p50": batch_s,
        "setup_s": statistics.median(setups),
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(wl, tracer, log, passes, single_s, cores) -> dict[str, float]:
    med = statistics.median
    timed = tracer.named("pass")
    timed_ids = {s.pass_id for s in timed}
    plan = tracer.named("operators.plan")
    counts = [log.within(s).core_counts(s.seconds, cores) for s in timed]
    layer = {
        "session.start_s": med(s.seconds for s in tracer.named("session.start")),
        "sources.open_s": med(s.seconds for s in tracer.named("sources.open")),
        "operators.plan_s": med(tracer.self_seconds(s) for s in plan if s.pass_id in timed_ids),
        # over the whole run: plan-time jobs may run once per session
        "operators.plan_jobs": sum(log.within(s).jobs for s in plan),
    }
    layer.update({k: med(c[k] for c in counts) for k in counts[0]})
    layer["kernels.single_thread_s"] = single_s
    layer["kernels.share"] = single_s / layer["core.executor_run_s"]
    stream = {k: 0 for k in PER_LAYER if k.startswith("streaming.")}
    if passes[0][1].progress is not None:
        steady = _steady_batches(passes)
        last = passes[-1][1].progress[-1]["stateOperators"][0]
        stream = {
            "streaming.add_batch_ms_p50": med(b["durationMs"]["addBatch"] for b in steady),
            "streaming.planning_ms_p50": med(b["durationMs"]["queryPlanning"] for b in steady),
            "streaming.state_commit_ms_p50": med(
                b["stateOperators"][0]["commitTimeMs"] for b in steady
            ),
            "streaming.state_rows": last["numRowsTotal"],
            "streaming.state_bytes": last["memoryUsedBytes"],
        }
    layer.update(stream)
    return {k: layer[k] for k in PER_LAYER}


def run_all(seed: int, seconds: float, smoke: bool) -> int:
    """Every workload untraced, then traced, each in its own process.
    Prints the end-to-end metrics side by side, the tracing overhead
    (traced minus untraced) and the per-layer metrics."""
    e2e: dict[tuple[str, int], dict] = {}
    results: dict[tuple[str, int], dict] = {}
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, str(Path(__file__).resolve()),
                "--workload", name, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace),
            ] + (["--smoke"] if smoke else [])
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr)
                print(f"perfbench {name} trace={trace} exited {proc.returncode}")
                return 1
            results[name, trace] = json.loads(lines[-1])
            e2e[name, trace] = next(
                json.loads(l.split(" ", 1)[1]) for l in lines if l.startswith("perfbench-e2e ")
            )
    width = max(map(len, WORKLOADS)) + 2
    print("end-to-end, untraced (tracing overhead = traced - untraced)")
    print(f"{'':<22}" + "".join(f"{w:>{width + 10}}" for w in WORKLOADS))
    for k, unit in END_TO_END.items():
        cells = "".join(
            f"{e2e[w, 0][k]:>{width}.4g}{e2e[w, 1][k] - e2e[w, 0][k]:>+10.3g}" for w in WORKLOADS
        )
        print(f"{k + ' [' + unit + ']':<22}{cells}")
    print("per-layer (traced)")
    print(f"{'':<32}" + "".join(f"{w:>{width}}" for w in WORKLOADS))
    for k in results[WORKLOADS[0], 1]["metrics"]:
        cells = "".join(f"{results[w, 1]['metrics'][k]['value']:>{width}.4g}" for w in WORKLOADS)
        print(f"{k:<32}{cells}")
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    print(
        json.dumps(
            {
                "correct": all(r["correct"] for r in results.values()),
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    f"{w}.{k}": {"value": v, "unit": END_TO_END[k]}
                    for (w, t), vals in e2e.items()
                    if t == 0
                    for k, v in vals.items()
                },
            }
        )
    )
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy-size inputs")
    args = ap.parse_args(argv)
    if not (ROOT / "xarray_scipy_spark" / "__init__.py").is_file():
        print(f"perfbench: no xarray_scipy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.workload == "all":
        return run_all(args.seed, args.seconds, args.smoke)
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)


if __name__ == "__main__":
    sys.exit(main())
