"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload hql_search --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The engine runs on
``get_spark()`` unchanged at ``SPARK_GRAFT_CPUS`` = the CPUs this process
may use. Inputs are generated from ``--seed``; every run checks the
engine's outputs off the clock. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Every metric is also printed above it by its
workload-specific name and unit.

With ``--trace 1`` the run measures twice: untraced, then traced, and
reports the difference as the tracing overhead. ``--spans FILE`` writes
the traced spans as JSON. Workload parameters live in
``perfbench/config.json`` (``--config`` picks another file).
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from tracing import descendants  # perfbench/ is this script's directory

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MODULES = {"connector_feed": "wl_connector", "hql_search": "wl_hql",
           "admission": "wl_admission"}


class Stopped(BaseException):
    """Not an Exception, so a workload's handler for a failed operation
    cannot swallow it."""


def _on_signal(signum, _frame):
    """Deadline (SIGALRM) or SIGTERM: unwind, so that every process the run
    started is stopped on the way out."""
    raise Stopped("run exceeded its deadline" if signum == signal.SIGALRM
                  else f"stopped by {signal.Signals(signum).name}")


def _env(work_dir: str) -> None:
    """Keep every file the run makes inside the checkout, and let Python
    workers import the engine as if it were installed."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it was launched in, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:  # even when a signal left the gateway unusable
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Python
    workers whose JVM has ended), so ``_wait_for_descendants`` sees them."""
    import ctypes

    pr_set_child_subreaper = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _wait_for_descendants(timeout_s: float = 5.0) -> None:
    """Reap every process the run started; kill what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _storage_mb(spark) -> float:
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    used = sum(execs.apply(i).memoryUsed() + execs.apply(i).diskUsed()
               for i in range(execs.size()))
    return used / 2**20


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced spans to this file")
    ap.add_argument("--config", default=os.path.join(HERE, "config.json"),
                    help="workload parameters (default: perfbench/config.json)")
    args = ap.parse_args(argv)
    t_run = time.perf_counter()

    with open(args.config) as f:
        config = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "cses2humio_spark")):
        print(f"no cses2humio_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"]
                 for m in json.load(f)["per_layer" if args.trace
                                       else "end_to_end"]}
    work_dir = os.path.join(ROOT, ".perfbench_work",
                            f"{args.workload}-{os.getpid()}")
    _adopt_orphans()
    shutil.rmtree(work_dir, ignore_errors=True)
    _env(work_dir)
    sys.path[:0] = [ROOT, HERE]
    signal.signal(signal.SIGALRM, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.alarm(int(config["deadline_s"]))
    spark = None
    try:
        import datagen
        from common import Ctx
        from tracing import RssSampler, Tracer

        wl_cfg = config["workloads"][args.workload]
        data_dir = os.path.join(work_dir, "data")
        corpus = datagen.write_tables(args.seed, data_dir,
                                      wl_cfg.get("tables", {}))
        with RssSampler(enabled=bool(args.trace)) as rss:
            t0 = time.perf_counter()
            from cses2humio_spark.session import get_spark

            spark = get_spark()
            spark.sparkContext.setLogLevel("ERROR")
            session_start_s = time.perf_counter() - t0
            tracer = Tracer(spark, enabled=bool(args.trace))
            ctx = Ctx(spark, tracer, args.seed, args.seconds, work_dir,
                      data_dir, wl_cfg)
            wl = importlib.import_module(MODULES[args.workload]).Workload(
                ctx, corpus)
            try:
                t_setup = time.perf_counter()
                setup_reps = wl.setup()
                t_measure = time.perf_counter()
                # the end-to-end pass is never traced; with --trace 1 a
                # second, traced pass follows and the difference between
                # the two is the tracing overhead
                tracer.enabled = False
                tracer.phase = "measure"
                plain = wl.measure()
                traced = None
                if args.trace:
                    tracer.enabled = True
                    traced = wl.measure()
                    tracer.attribute_spark()  # off the clock
                tracer.phase = "check"
                t_check = time.perf_counter()
                errors = wl.check()
                layers = wl.layers() if args.trace else {}
                storage_mb = _storage_mb(spark)
                t_end = time.perf_counter()
            finally:
                wl.close()
        _stop_spark(spark)
        spark = None
    except Stopped as e:
        print(f"FAILED: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let clean-up finish
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            _wait_for_descendants()
            shutil.rmtree(work_dir, ignore_errors=True)
            parent = os.path.dirname(work_dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    aliases = {k: v[args.workload] for k, v in config["end_to_end"].items()
               if isinstance(v, dict)}
    print(f"# workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print(f"# walls: setup+warm {t_measure - t_setup:.1f} s, measure "
          f"{t_check - t_measure:.1f} s, check {t_end - t_check:.1f} s, "
          f"run {time.perf_counter() - t_run:.1f} s")
    print(f"session_start_s = {session_start_s:.6g} s")
    print(f"setup_reps_s = {[round(x, 4) for x in setup_reps]}")
    for name, (value, unit) in plain.named.items():
        print(f"{name} = {value:.6g} {unit}")
    for err in errors:
        print(f"CHECK FAILED: {err}")

    attempted, failed = plain.attempted, plain.failed
    if args.trace:
        attempted += traced.attempted
        failed += traced.failed
        for name, (value, unit) in traced.named.items():
            print(f"traced.{name} = {value:.6g} {unit}")
        spark_tot = tracer.spark_totals()
        n_ops = max(1, traced.spark_ops)
        metrics = {
            **{name: 0.0 for name in units},  # layers this workload skips
            **layers,
            "tracing.overhead_latency_p50_s":
                traced.latency_p50_s - plain.latency_p50_s,
            "tracing.overhead_throughput_share":
                1.0 - traced.throughput_per_s / plain.throughput_per_s
                if plain.throughput_per_s else 0.0,
            "spark.jobs_per_op": spark_tot["jobs"] / n_ops,
            "spark.tasks_per_op": spark_tot["tasks"] / n_ops,
            "spark.executor_run_s": spark_tot["executor_run_s"] / n_ops,
            "spark.gc_s": spark_tot["gc_s"] / n_ops,
            "spark.deserialize_s": spark_tot["deserialize_s"] / n_ops,
            "spark.shuffle_bytes": spark_tot["shuffle_bytes"] / n_ops,
            "session.start_s": session_start_s,
            "session.peak_rss_mb": rss.peak_mb,
            "session.storage_mb_end": storage_mb,
        }
        for name, t in sorted(tracer.self_times().items()):
            print(f"self_s[{name}] = {t:.6g} s")
        if args.spans:
            with open(args.spans, "w") as f:
                json.dump(tracer.dump(), f)
        notes = {k: f"  # moves {v[0]}; on {v[1]}"
                 for k, v in config["layers"].items()}
    else:
        metrics = {
            "setup_s": session_start_s + statistics.median(setup_reps),
            "throughput_per_s": plain.throughput_per_s,
            "latency_p50_s": plain.latency_p50_s,
            "latency_tail_s": plain.latency_tail_s,
        }
        notes = {k: f"  # {v}" for k, v in aliases.items()}
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise KeyError(f"workload reported no value for {missing}")
    # a percentile that falls on failed operations is infinite; report the
    # run's deadline instead, a bound every failed operation exceeded
    metrics = {k: v if math.isfinite(v) else float(config["deadline_s"])
               for k, v in metrics.items()}
    for name in units:
        print(f"{name} = {metrics[name]:.6g} {units[name]}{notes.get(name, '')}")
    result = {
        "correct": not errors,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
