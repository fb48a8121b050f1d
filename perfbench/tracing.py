"""Tracing for the per-layer run (``--trace 1``).

The tracer wraps the package's public functions at the module attributes
their callers resolve at call time (no package file is edited), for the
duration of one workload:

- each wrapper is a *span*: wall time, self time (wall minus the spans it
  encloses), and the py4j round trips made inside it, counted by a
  wrapper around the gateway client's ``send_command``;
- each span tags the Spark jobs it submits through a thread-local job
  property, so the Spark event log of the traced session attributes jobs,
  tasks, shuffle, spill, executor CPU, files read and scheduling delay to
  spans.

Spans stay in memory; ``per_layer`` turns them into the per-layer metrics
and writes the full span table under ``.perfbench_out/``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

from perfbench.freshness import batch_of_files
from perfbench.stats import median

JOB_PROP = "perfbench.span"

#: operators ``pipeline.prepare_training_corpus`` calls by module name
PIPELINE_OPS = (
    "quality_signals",
    "pii_redact",
    "exact_dedup_annotate",
    "benchmark_ngrams",
    "minhash_dedup",
    "connected_components",
    "decontaminate",
    "segment_dedup",
    "mix_corpus",
    "token_count",
    "pack_sequences",
)

#: span groups whose Spark task metrics are reported
SPARK_GROUPS = {
    "projection": ("projection.", "lww."),
    "serving": ("serving.", "serving_http."),
    "pipeline_build": ("pipeline.build",) + PIPELINE_OPS,
    "pipeline_action": ("pipeline.action",),
    "publish": ("serving_layout.publish", "clustering."),
}


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    def span(self, name: str):
        return contextlib.nullcontext()

    def installed(self):
        return contextlib.nullcontext()

    def observe_epochs(self, epochs, checkpoint_dir) -> None:
        pass

    def observe_cold_start(self, events_per_s, reads) -> None:
        pass

    def reset(self) -> None:
        pass


class _Stat:
    __slots__ = ("walls", "self_ms", "py4j", "py4j_self")

    def __init__(self):
        self.walls: list[float] = []
        self.self_ms = 0.0
        self.py4j = 0
        self.py4j_self = 0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.local = threading.local()
        self.lock = threading.Lock()
        self.stats: dict[str, _Stat] = defaultdict(_Stat)
        self.py4j_total = 0
        self.n_spans = 0
        self.epochs: list[dict] = []
        self.bytes_written: list[int] = []
        self.buckets_touched: list[int] = []
        self.layout_reads: list[dict] = []
        self.catchup_events_per_s = 0.0
        self._patches: list[tuple] = []
        self.since_ms = 0

    def reset(self) -> None:
        """Forget everything recorded so far (the set-up phase): spans,
        counters, and Spark jobs submitted before now."""
        with self.lock:
            self.stats.clear()
            self.py4j_total = 0
            self.n_spans = 0
            self.epochs.clear()
            self.bytes_written.clear()
            self.buckets_touched.clear()
            self.layout_reads.clear()
            self.catchup_events_per_s = 0.0
            self.since_ms = int(time.time() * 1000)

    # -- spans ----------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self.local, "stack", None)
        if st is None:
            st = self.local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1]["name"] if stack else None
        self._set_prop(name)
        frame = {"name": name, "child_ms": 0.0, "py4j": 0, "child_py4j": 0}
        stack.append(frame)
        t = time.perf_counter()
        try:
            yield frame
        finally:
            wall = (time.perf_counter() - t) * 1e3
            stack.pop()
            self._set_prop(parent)
            with self.lock:
                s = self.stats[name]
                s.walls.append(wall)
                s.self_ms += wall - frame["child_ms"]
                s.py4j += frame["py4j"]
                s.py4j_self += frame["py4j"] - frame["child_py4j"]
                self.n_spans += 1
            if stack:
                stack[-1]["child_ms"] += wall
                stack[-1]["child_py4j"] += frame["py4j"]

    def _set_prop(self, value) -> None:
        self.local.quiet = True  # the tracer's own round trips are not counted
        try:
            self.sc.setLocalProperty(JOB_PROP, value)
        finally:
            self.local.quiet = False

    def _count_py4j(self) -> None:
        if getattr(self.local, "quiet", False):
            return
        stack = self._stack()
        with self.lock:
            self.py4j_total += 1
        for frame in stack:
            frame["py4j"] += 1

    def wrap(self, name, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(args, kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        return traced

    # -- install / uninstall -----------------------------------------------------

    def _patch(self, obj, attr, new) -> None:
        self._patches.append((obj, attr, obj.__dict__[attr]))
        setattr(obj, attr, new)

    @contextlib.contextmanager
    def installed(self):
        from nexus_event_stream_spark import command, pipeline, serving, serving_http
        from nexus_event_stream_spark.sources import streams
        from nexus_event_stream_spark.streaming import projection, serving_layout

        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted_send(*args, **kwargs):
            self._count_py4j()
            return send(*args, **kwargs)

        client.send_command = counted_send
        w = self.wrap
        self._patch(command.SignalCommands, "_append",
                    w("command.append", command.SignalCommands._append))
        self._patch(serving.SignalService, "get",
                    w("serving.get", serving.SignalService.get))
        self._patch(
            serving.SignalService, "list",
            w(lambda a, kw: "serving.filter"
              if (kw.get("priority") or (a[1:] and a[1])) else "serving.list",
              serving.SignalService.list),
        )
        self._patch(serving_http, "make_handler",
                    self._traced_handler(serving_http.make_handler))
        for attr in ("file_event_stream", "parse_events"):
            self._patch(streams, attr, w(f"sources.{attr}", getattr(streams, attr)))
        for attr in ("latest_state", "lww_merge_batch"):
            self._patch(projection, attr, w("lww.build", getattr(projection, attr)))
        self._patch(projection, "apply_batch",
                    w("projection.apply", projection.apply_batch))
        self._patch(projection, "apply_batch_bucketed",
                    w("projection.apply", projection.apply_batch_bucketed))
        self._patch(projection.BucketedViewStore, "read",
                    w("projection.store_read", projection.BucketedViewStore.read))
        self._patch(projection.BucketedViewStore, "write_buckets",
                    self._traced_write_buckets(
                        projection.BucketedViewStore.write_buckets))
        self._patch(serving_layout, "publish_serving_snapshot",
                    w("serving_layout.publish",
                      serving_layout.publish_serving_snapshot))
        self._patch(serving_layout, "zorder_write",
                    w("clustering.zorder_write", serving_layout.zorder_write))
        self._patch(projection.ParquetViewStore, "read",
                    w("projection.store_read", projection.ParquetViewStore.read))
        self._patch(projection.ParquetViewStore, "write",
                    self._traced_store_write(projection.ParquetViewStore.write))
        for op in PIPELINE_OPS:
            self._patch(pipeline, op, w(op, getattr(pipeline, op)))
        try:
            yield self
        finally:
            for obj, attr, orig in reversed(self._patches):
                setattr(obj, attr, orig)
            self._patches.clear()
            client.send_command = send

    def _traced_handler(self, make_handler):
        tracer = self

        def traced_make_handler(*args, **kwargs):
            base = make_handler(*args, **kwargs)

            class Handler(base):
                def do_GET(self):  # noqa: N802
                    with tracer.span("serving_http.get"):
                        super().do_GET()

                def _write_route(self, method):
                    with tracer.span("serving_http.write"):
                        super()._write_route(method)

            return Handler

        return traced_make_handler

    def _traced_store_write(self, write):
        tracer = self

        @functools.wraps(write)
        def traced_write(store, *args, **kwargs):
            with tracer.span("projection.store_write"):
                version = write(store, *args, **kwargs)
            out = os.path.join(store.path, f"v={version}")
            tracer.bytes_written.append(
                sum(
                    os.path.getsize(os.path.join(d, f))
                    for d, _, fs in os.walk(out)
                    for f in fs
                    if not f.startswith((".", "_"))
                )
            )
            return version

        return traced_write

    def _traced_write_buckets(self, write_buckets):
        tracer = self

        @functools.wraps(write_buckets)
        def traced_write_buckets(store, df, touched, *args, **kwargs):
            tracer.buckets_touched.append(len(touched))
            with tracer.span("projection.store_write"):
                return write_buckets(store, df, touched, *args, **kwargs)

        return traced_write_buckets

    def observe_cold_start(self, events_per_s, reads) -> None:
        """Record the cold start's catch-up rate and its serving-layout reads."""
        self.catchup_events_per_s = events_per_s
        self.layout_reads.extend(reads)

    def observe_epochs(self, epochs, checkpoint_dir) -> None:
        """Record the measured micro-batches with the files each read."""
        files = batch_of_files(checkpoint_dir)
        per_batch = defaultdict(int)
        for b in files.values():
            per_batch[b] += 1
        for e in epochs:
            self.epochs.append({**e, "files": per_batch.get(e["batch"], 0)})

    # -- report -----------------------------------------------------------------

    def per_layer(self, events_dir, res, calib, out_dir, args) -> dict:
        spark_by_span = _event_log(events_dir, self.since_ms)
        table = {}
        for name, s in sorted(self.stats.items()):
            table[name] = {
                "calls": len(s.walls),
                "wall_ms": sum(s.walls),
                "p50_ms": median(s.walls),
                "self_ms": s.self_ms,
                "py4j": s.py4j,
                "py4j_self": s.py4j_self,
                **spark_by_span.pop(name, _zero_spark()),
            }
        untagged = spark_by_span.pop(None, _zero_spark())
        os.makedirs(out_dir, exist_ok=True)
        with open(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w"
        ) as fh:
            json.dump({"spans": table, "untagged_jobs": untagged,
                       "epochs": self.epochs}, fh, indent=1)
        for name, row in table.items():
            print(
                f"span {name:32s} calls={row['calls']:5d} wall={row['wall_ms']:10.1f}ms"
                f" self={row['self_ms']:10.1f}ms py4j={row['py4j_self']:7d}"
                f" jobs={row['jobs']:4d} tasks={row['tasks']:5d}"
            )

        def get(name, key, default=0.0):
            return table.get(name, {}).get(key, default)

        def mean_ms(name):
            return get(name, "wall_ms") / max(get(name, "calls", 0), 1)

        n_epochs = max(len(self.epochs), 1)
        passes = max(get("pipeline.build", "calls", 0), 1)
        events = sum(e["rows"] for e in self.epochs)
        reads = sum(get(f"serving.{k}", "calls", 0) for k in ("get", "list", "filter"))
        serving_names = [n for n in table if n.startswith("serving.")]
        m = {
            "sources.files_per_epoch": (sum(e["files"] for e in self.epochs) / n_epochs, "count"),
            "sources.plan_ms_per_epoch": (sum(e["plan_ms"] for e in self.epochs) / n_epochs, "ms"),
            "projection.apply_ms_per_epoch": (get("projection.apply", "wall_ms") / n_epochs, "ms"),
            "projection.epoch_overhead_ms": (
                sum(e["trigger_ms"] - e["apply_ms"] for e in self.epochs) / n_epochs, "ms"),
            "projection.spark_jobs_per_epoch": (
                sum(get(n, "jobs", 0) for n in table if n.startswith(("projection.", "lww.")))
                / n_epochs, "count"),
            "projection.self_ms_per_epoch": (get("projection.apply", "self_ms") / n_epochs, "ms"),
            "projection.store_write_ms_per_epoch": (
                get("projection.store_write", "wall_ms") / n_epochs, "ms"),
            "projection.bytes_written_per_event": (
                sum(self.bytes_written) / max(events, 1), "B"),
            "lww.build_ms": (mean_ms("lww.build"), "ms"),
            "command.append_ms": (mean_ms("command.append"), "ms"),
            "serving.get_ms": (mean_ms("serving.get"), "ms"),
            "serving.list_ms": (mean_ms("serving.list"), "ms"),
            "serving.filter_ms": (mean_ms("serving.filter"), "ms"),
            "serving.spark_jobs_per_read": (
                sum(get(n, "jobs", 0) for n in serving_names) / max(reads, 1), "count"),
            "serving.files_scanned_per_read": (
                sum(get(n, "files_read", 0) for n in serving_names) / max(reads, 1), "count"),
            "serving.sched_wait_ms": (
                sum(get(n, "sched_wait_ms") for n in serving_names)
                / max(sum(get(n, "jobs", 0) for n in serving_names), 1), "ms"),
            "serving_http.self_ms": (
                get("serving_http.get", "self_ms") / max(get("serving_http.get", "calls", 0), 1),
                "ms"),
            "projection.buckets_touched_per_epoch": (
                sum(self.buckets_touched) / max(len(self.buckets_touched), 1), "count"),
            "projection.catchup_events_per_s": (self.catchup_events_per_s, "1/s"),
            "serving_layout.publish_s": (get("serving_layout.publish", "wall_ms") / 1e3, "s"),
            "clustering.zorder_write_s": (get("clustering.zorder_write", "wall_ms") / 1e3, "s"),
            "clustering.py4j_calls_per_publish": (
                get("serving_layout.publish", "py4j", 0)
                / max(get("serving_layout.publish", "calls", 0), 1), "count"),
            "clustering.spark_jobs_per_publish": (
                sum(get(n, "jobs", 0) for n in ("serving_layout.publish",
                                                "clustering.zorder_write"))
                / max(get("serving_layout.publish", "calls", 0), 1), "count"),
            "serving_layout.read_ms": (mean_ms("serving_layout.read"), "ms"),
            "serving_layout.spark_jobs_per_read": (
                get("serving_layout.read", "jobs", 0)
                / max(get("serving_layout.read", "calls", 0), 1), "count"),
            "serving_layout.files_read_frac": (
                sum(r["files_read"] for r in self.layout_reads)
                / max(sum(r["files_total"] for r in self.layout_reads), 1), "frac"),
            "pipeline.build_s": (get("pipeline.build", "wall_ms") / 1e3 / passes, "s"),
            "pipeline.build_self_s": (get("pipeline.build", "self_ms") / 1e3 / passes, "s"),
            "pipeline.build_spark_jobs": (
                sum(get(n, "jobs", 0) for n in ("pipeline.build",) + PIPELINE_OPS) / passes,
                "count"),
            "pipeline.py4j_calls": (get("pipeline.build", "py4j", 0) / passes, "count"),
            "pipeline.action_s": (get("pipeline.action", "wall_ms") / 1e3 / passes, "s"),
        }
        for op in PIPELINE_OPS:
            m[f"{op}.build_s"] = (get(op, "wall_ms") / 1e3 / passes, "s")
            m[f"{op}.spark_jobs"] = (get(op, "jobs", 0) / passes, "count")
        for group, prefixes in SPARK_GROUPS.items():
            rows = [r for n, r in table.items() if n.startswith(prefixes)]
            m[f"spark.{group}.tasks"] = (sum(r["tasks"] for r in rows), "count")
            m[f"spark.{group}.shuffle_bytes"] = (sum(r["shuffle_bytes"] for r in rows), "B")
            m[f"spark.{group}.spill_bytes"] = (sum(r["spill_bytes"] for r in rows), "B")
            m[f"spark.{group}.executor_cpu_s"] = (sum(r["executor_cpu_s"] for r in rows), "s")
        m["host.peak_rss_mb"] = (res.detail["peak_rss_mb"], "MB")
        m["host.calib_jvm_ms"] = (calib["calib_jvm_ms"], "ms")
        m["host.calib_numpy_ms"] = (calib["calib_numpy_ms"], "ms")
        m["trace.spans"] = (self.n_spans, "count")
        m["trace.py4j_calls"] = (self.py4j_total, "count")
        m["trace.throughput_per_s"] = (res.metrics["throughput_per_s"], "1/s")
        m["trace.latency_p50_ms"] = (res.metrics["latency_p50_ms"], "ms")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _zero_spark() -> dict:
    return {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "executor_cpu_s": 0.0, "files_read": 0, "sched_wait_ms": 0.0}


def _event_log(events_dir: str, since_ms: int) -> dict:
    """Span → Spark totals from the session's JSON event log, for jobs
    submitted at or after ``since_ms`` (epoch milliseconds)."""
    stage_job: dict[int, int] = {}
    job_span: dict[int, str | None] = {}
    job_exec: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    job_first_task: dict[int, int] = {}
    acc_names: dict[int, str] = {}
    exec_files: dict[str, int] = defaultdict(int)
    out: dict = defaultdict(_zero_spark)

    def walk(plan):
        for mt in plan.get("metrics", []):
            acc_names[mt["accumulatorId"]] = mt["name"]
        for child in plan.get("children", []):
            walk(child)

    for path in glob.glob(os.path.join(events_dir, "**"), recursive=True):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    if ev.get("Submission Time", 0) < since_ms:
                        continue
                    job = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_span[job] = props.get(JOB_PROP)
                    job_exec[job] = props.get("spark.sql.execution.id")
                    job_submit[job] = ev.get("Submission Time", 0)
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, job)
                    out[job_span[job]]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    row = out[job_span[job]]
                    tm = ev.get("Task Metrics") or {}
                    row["tasks"] += 1
                    row["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    row["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    row["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    launch = (ev.get("Task Info") or {}).get("Launch Time", 0)
                    if job not in job_first_task or launch < job_first_task[job]:
                        job_first_task[job] = launch
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    walk(ev.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        if acc_names.get(acc_id) == "number of files read":
                            exec_files[str(ev["executionId"])] += value
    for job, first in job_first_task.items():
        out[job_span[job]]["sched_wait_ms"] += max(first - job_submit[job], 0)
    seen_exec = set()
    for job in sorted(job_span):
        ex = job_exec.get(job)
        if ex is not None and ex not in seen_exec:
            seen_exec.add(ex)
            out[job_span[job]]["files_read"] += exec_files.get(str(ex), 0)
    return dict(out)
