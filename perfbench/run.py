#!/usr/bin/env python3
"""Repository benchmark: one seeded, closed-loop workload per invocation.

    python3 perfbench/run.py --workload feed_drain --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed`` (before any timing), starts the engine's Spark session on
``local[<cpus>]``, warms up, then runs whole passes of the workload for
about ``--seconds`` seconds and checks every output. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a separate traced pass set with ``--trace 1``. Lines before
it give the input sizes, every metric with its unit and sample count,
the error rate and every failing op by name. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WORKLOADS = ("feed_drain", "analytics_sql", "corpus_curate")
END_TO_END = (
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("op_p50_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)
DEADLINE_S = 170  # hard stop, so a hung drain cannot outlive the run limit
PROGRAM_FILES = ("datapipelineetl_spark", "__spark_entry__.py", "tools/check_correctness.py")

sys.path.insert(0, str(HERE))


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _start_session(eventlog: Path | None):
    from datapipelineetl_spark import session  # noqa: PLC0415

    if eventlog is None:
        return session.get_session("perfbench")
    spark = (
        session.session_builder("perfbench")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", eventlog.as_uri())
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _stop_session(spark) -> None:
    """Stop the session and its gateway JVM, and wait for the JVM to exit,
    so the next start pays a cold JVM launch."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap(pids: list[int]) -> None:
    """Terminate and wait for any of ``pids`` still alive."""
    alive = [p for p in pids if p != os.getpid() and Path(f"/proc/{p}").exists()]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while alive and time.monotonic() < deadline:
            for p in list(alive):
                try:
                    done, _ = os.waitpid(p, os.WNOHANG)
                except ChildProcessError:  # not our child: poll /proc
                    done = 0 if Path(f"/proc/{p}").exists() else p
                if done:
                    alive.remove(p)
            time.sleep(0.05)
        if not alive:
            return


def _measure(workload, seconds: float, rss: list[float], tracer=None) -> tuple[list, list]:
    """Whole passes, closed loop, while the next is expected to end within
    ``seconds`` (at least one). With a ``tracer``, untraced and traced
    passes alternate: returns (untraced, traced) passes."""
    from sgbench import layers, procfs  # noqa: PLC0415

    plain, traced = [], []
    t0 = time.perf_counter()
    while True:
        plain.append(workload.run_pass())
        rss.append(procfs.peak_rss_mb())
        step = statistics.median(p.wall_s for p in plain)
        if tracer is not None:
            layers.patch_all(tracer)
            try:
                traced.append(workload.run_pass(tracer=tracer))
            finally:
                tracer.unpatch()
            step += statistics.median(p.wall_s for p in traced)
        if time.perf_counter() - t0 + step > seconds:
            return plain, traced


def main() -> int:
    args = _args()
    missing = [f for f in PROGRAM_FILES if not (ROOT / f).exists()]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    from sgbench import eventlog as evlog  # noqa: PLC0415
    from sgbench import inputs, layers, procfs, spans  # noqa: PLC0415

    run_dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # keep the JVM's and Python's scratch files inside the checkout too
    tmp = run_dir / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])

    inp = inputs.make(args.workload, args.seed, run_dir / "in")
    print(inp.size_block(), flush=True)
    os.chdir(run_dir)  # Spark's warehouse/metastore dirs land in the run dir

    watchdog = threading.Timer(DEADLINE_S, lambda: (_reap(procfs.tree()), os._exit(3)))
    watchdog.daemon = True
    watchdog.start()

    t0 = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entry  # noqa: PLC0415 — registers every query
    from sgbench import workloads  # noqa: PLC0415

    import_s = time.perf_counter() - t0
    eventlog = run_dir / "eventlog" if args.trace else None
    if eventlog:
        eventlog.mkdir()
    t = time.perf_counter()
    spark = _start_session(eventlog)
    session_s = time.perf_counter() - t

    listener = workloads.ProgressListener()
    spark.streams.addListener(listener)
    if args.workload == "feed_drain":
        wl = workloads.FeedWorkload(spark, inp, run_dir, listener)
    else:
        wl = workloads.QueryWorkload(args.workload, spark, inp,
                                     entry.queries(), entry.oracle_sql())

    rss: list[float] = []
    warm = wl.run_pass(warmup=True)
    rss.append(procfs.peak_rss_mb())
    setup_s = import_s + session_s + warm.wall_s

    tracer = spans.Tracer(spark.sparkContext) if args.trace else None
    passes, traced = _measure(wl, args.seconds, rss, tracer)

    # the oracle check needs no Spark: run it while the JVM shuts down
    t = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        checked = pool.submit(wl.check, WORK / "cache")
        app_id = spark.sparkContext.applicationId
        tree = procfs.tree()
        _stop_session(spark)
        _reap(tree)
        n_checked, check_failures = checked.result()
    stop_s = time.perf_counter() - t
    watchdog.cancel()

    all_passes = [warm, *passes, *traced]
    attempted = sum(p.attempted for p in all_passes)
    failures = [f for p in all_passes for f in p.failures] + check_failures
    if not any(p.op_s for p in passes):
        failures.append("no measured op completed")
    failed = min(len(failures), attempted)
    op_s = [s for p in passes for s in p.op_s]
    wall = sum(p.wall_s for p in passes)

    if args.trace:
        jobs = evlog.parse(eventlog / f"eventlog_v2_{app_id}")
        extra = {k: sum(p.extra.get(k, 0) for p in traced)
                 for k in ("files_in", "files_out", "quarantined_rows")}
        progress = [e for p in traced for e in p.extra.get("progress", ())]
        overhead = (statistics.median(p.wall_s for p in traced)
                    / statistics.median(p.wall_s for p in passes))
        values = layers.rollup(tracer.spans, jobs, traced, progress, session_s, overhead, extra)
        trace_dir = WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        tracer.dump(trace_dir / f"{args.workload}-seed{args.seed}-spans.jsonl")
        units = {m["name"]: m["unit"] for m in layers.PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "rows_per_s": wl.rows_per_pass * len(passes) / wall,
            "op_p50_s": statistics.median(op_s) if op_s else wall,
            "cpu_s": statistics.median(p.cpu_s for p in passes),
            "peak_rss_mb": max(rss),
        }
        units = dict(END_TO_END)

    print(f"passes={len(passes)} measured_s={wall:.3f} ops={len(op_s)} "
          f"session_s={session_s:.3f} import_s={import_s:.3f} "
          f"warmup_s={warm.wall_s:.3f} oracle_checked={n_checked} "
          f"check_and_stop_s={stop_s:.3f}")
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for name, s in zip(p.op_names, p.op_s):
            by_op.setdefault(name, []).append(s)
    print("op medians: " + " ".join(f"{n}={statistics.median(v):.3f}s" for n, v in by_op.items()))
    for name, value in values.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"error_rate = {failed / attempted:.6g} ratio (failed={failed} attempted={attempted})")
    for f in failures:
        print(f"FAILED {f}")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    os.chdir(ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # so the finally below runs
    try:
        code = main()
    finally:
        # on any error, stop the JVM and workers this run started
        from sgbench import procfs

        _reap(procfs.tree())
    sys.exit(code)
