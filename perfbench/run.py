"""Benchmark entry point; run from the repository root.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 25 --trace 0

Prints human-readable detail lines, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  Everything
it writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (trace span tables) in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

ROOT = os.getcwd()
CORES = 4


def _rss_mb(jvm_pid: int | None) -> float:
    python_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (python_kb + jvm_kb) / 1024.0


def _start_spark(work: str, trace: bool):
    from nexus_event_stream_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt-default"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + events
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.sql.maxPlanStringLength"] = "2000"
    return get_spark(
        app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The package and this harness import from the checkout root; Spark's
    # Python workers inherit PYTHONPATH, so export it before the JVM starts.
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != here]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # A 3 GB driver heap instead of the package's 8 GB default: with 8 GB the
    # JVM grew to 6.8 GB resident in a traced corpus_prep run (4.0 GB at
    # 3 GB), and the benchmark shares its host's memory.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import nexus_event_stream_spark  # noqa: F401 — fail fast without the package

    from perfbench import calibrate, tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        t = time.perf_counter()
        spark = _start_spark(work, bool(args.trace))
        spark_start_s = time.perf_counter() - t
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        calib = calibrate.probe(spark)
        tracer = tracing.Tracer(spark) if args.trace else tracing.NullTracer()
        ctx = workloads.Context(
            spark, work, args.seed, args.seconds, ROOT, tracer, bool(args.trace)
        )
        with tracer.installed():
            res = workloads.WORKLOADS[args.workload](ctx)
        res.detail["peak_rss_mb"] = _rss_mb(jvm_pid)
        _stop_spark(spark)
        spark = None
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "spark_start_s": spark_start_s,
            **calib,
            **res.detail,
        }
        print("detail " + json.dumps(detail, default=str))
        if args.trace:
            metrics = tracer.per_layer(
                os.path.join(work, "events"), res, calib,
                os.path.join(ROOT, ".perfbench_out"), args,
            )
        else:
            units = {"setup_s": "s", "throughput_per_s": "1/s",
                     "latency_p50_ms": "ms"}
            metrics = {
                k: {"value": v, "unit": units[k]} for k, v in res.metrics.items()
            }
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
