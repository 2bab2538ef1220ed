"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload perc-selective --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones. The line before
it is a JSON report with every workload-specific metric, the host probes
and the result digest; stderr carries the same metrics as text.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "elasticsearch_batch_percolator_spark"
# the heap is committed and touched at start, so the JVM's share of
# peak_rss_mb does not depend on when the collector chose to grow it
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "op_mean_s": "s",
    "op_cpu_mean_s": "s",
    "peak_rss_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_launch(run_dir: str, cores: int, event_dir: str | None) -> None:
    """Settings the session must have before its JVM starts: cores, a
    driver heap that fits the box, the package on the workers' path, a
    per-run local dir, no progress bars, and (traced) the event log."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        EBP_IO_CODEC="lz4",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    args = ["--driver-java-options", java_opts]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the reaper of every orphaned descendant, so a
    Python worker that outlives its daemon is still ours to stop."""
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: descendants are still stopped while attached


def stop_descendants(grace_s: float = 10.0) -> None:
    """Terminate every process still below this one and wait for each to
    end: SIGTERM first, SIGKILL after ``grace_s``."""
    from perfbench.measure import descendants, read_procs

    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        while True:  # reap whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        live = [p.pid for p in descendants(read_procs(), me)]
        if not live:
            return
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig = signal.SIGKILL
            deadline = time.monotonic() + grace_s
        elif sig == signal.SIGKILL and time.monotonic() > deadline:
            print(f"perfbench: processes {live} did not stop", file=sys.stderr)
            return
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _emit(report: dict, result: dict, units: dict) -> None:
    for name, value in result["metrics"].items():
        print(f"{name:40s} {value['value']:.6g} {value['unit']}", file=sys.stderr)
    for name, value in report["metrics"].items():
        unit = units.get(name, "")
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:38s} {shown} {unit}", file=sys.stderr)
    print(json.dumps({"report": report}))
    print(json.dumps(result), flush=True)


# workload-specific metric -> unit, for the report
REPORT_UNITS = {
    "setup_s": "s", "session_start_s": "s", "registry_compile_s": "s",
    "registry_warmup_s": "s", "oracle_s": "s", "perc_docs_per_s": "docs/s",
    "perc_batch_p50_s": "s", "perc_batch_tail_s": "s", "perc_batch_tail_pct": "pct",
    "perc_batches": "count", "registry_queries": "count", "index_build_docs_per_s": "docs/s",
    "append_p50_s": "s", "compact_s": "s", "wand_batch_p50_s": "s",
    "wand_batch_tail_s": "s", "wand_batch_tail_pct": "pct", "dsl_batch_p50_s": "s",
    "dsl_batch_tail_s": "s", "dsl_batch_tail_pct": "pct",
    "index_bytes_per_doc": "B/doc", "append_docs_per_s": "docs/s", "rounds": "count",
    "peak_rss_mb": "MB", "peak_py_worker_rss_mb": "MB", "error_rate": "share",
}


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = min(4, len(os.sched_getaffinity(0)))
    run_dir = os.path.join(ROOT, ".perfbench_out", f"run-{os.getpid()}")
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    adopt_orphans()
    try:
        configure_launch(run_dir, cores, event_dir)
        probes = host.probes(cores)
        return _run(args, cores, run_dir, event_dir, probes)
    finally:
        stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, cores, run_dir, event_dir, probes) -> int:
    from perfbench import tracer as tr
    from perfbench.measure import RssSampler, median
    from perfbench.workloads import WORKLOADS, Ctx
    from elasticsearch_batch_percolator_spark.session import get_spark

    with RssSampler(os.getpid()) as sampler:
        tracer = tr.Tracer(sampler, enabled=bool(args.trace))
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cores=cores)
            session_s = time.perf_counter() - t0
        tracer.spark = spark
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        ctx = Ctx(spark, tracer, args.seed, args.seconds, cores, work, bool(args.trace))
        ctx.setup_s = session_s
        try:
            WORKLOADS[args.workload](ctx)
        except Exception:
            ctx.attempted += 1
            ctx.fail(f"workload aborted: {traceback.format_exc(limit=5)}")
        finally:
            stop_spark(spark)
        peak_rss = sampler.peak_total_mb
        peak_workers = sampler.peak_workers_mb

    ops = ctx.op_s or ctx.traced_op_s
    failed = len(ctx.failures)
    attempted = max(ctx.attempted, 1)
    report_metrics = {
        "setup_s": ctx.setup_s,
        "session_start_s": session_s,
        **ctx.report,
        "peak_rss_mb": peak_rss,
        "peak_py_worker_rss_mb": peak_workers,
        "error_rate": failed / attempted,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "host": probes,
        "digest": ctx.digest(), "metrics": report_metrics,
        "op_s": [round(x, 4) for x in ctx.op_s],
        "op_cpu_s": [round(x, 3) for x in ctx.op_cpu_s],
        "failures": ctx.failures[:10],
    }
    if not ops:
        metrics = {}
    elif args.trace:
        layers = tr.layer_metrics(tracer, event_dir)
        traced = sum(ctx.traced_op_s)
        layers["trace.span_coverage"] = ctx.traced_span_s / traced if traced else 0.0
        layers["trace.overhead_pct"] = (
            100 * (median(ctx.traced_op_s) / median(ctx.op_s) - 1)
            if ctx.traced_op_s and ctx.op_s else 0.0
        )
        metrics = {k: {"value": v, "unit": tr.layer_unit(k)} for k, v in layers.items()}
    else:
        values = {
            "setup_s": ctx.setup_s,
            # means: over a few operations they spread less across runs
            # than medians do (0.14 against 0.18 of the centre on index-rw)
            "op_mean_s": statistics.fmean(ops),
            "op_cpu_mean_s": statistics.fmean(ctx.op_cpu_s),
            "peak_rss_mb": peak_rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    result = {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    _emit(report, result, REPORT_UNITS)
    return 0


if __name__ == "__main__":
    sys.exit(main())
