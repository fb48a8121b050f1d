"""The workloads.  Each returns a ``Result`` whose ``metrics`` are the
end-to-end figures named in BENCHMARK.json and whose ``detail`` carries
the finer figures (every tail with its sample count).

Every workload sets up ``SETUPS`` times and reports the median set-up
time; the measured phase then runs on the last set-up.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import subprocess
import sys
import time
import uuid
from dataclasses import dataclass, field

from perfbench import oracle
from perfbench.freshness import (
    CommitLog,
    batch_of_files,
    envelope_key,
    files_by_key,
    freshness,
)
from perfbench.loadgen import LIST_LIMIT, UNKNOWN_PRIORITY, write_ops
from perfbench.stats import median, summarize

SETUPS = 3
INSTALL_KEYS = 50_000
INSTALL_FILE = "cmd-00000001.json"
#: cdc_live writer rate (commands/s): about half of what the full-snapshot
#: store folds on 4 cores while the reader runs (16 files per ≈1.8 s
#: epoch ≈ 9/s).  Near that capacity the backlog grows and freshness swings
#: with every slow epoch.
LIVE_RATE = 4.0
#: install ids the cdc_live writer never touches; reads of them must hit.
FROZEN_KEYS = 600
#: cold-start phase of the traced corpus_prep run: install keys and command
#: files (two micro-batches of 16 files) replayed from earliest into the
#: bucketed store, then published.  The publish took 47-68 s on 4 cores at
#: 5k keys, about what it takes at 50k, so the view is small and the phase
#: runs only when traced.
CATCHUP_KEYS = 5_000
CATCHUP_COMMANDS = 31
#: rounds of layout reads after the publish: newest 50, then each priority
#: and an unknown one
LAYOUT_READ_ROUNDS = 3
CORPUS_MIRRORS = 5
#: corpus variants: the seed picks one, and each has a recorded answer.
CORPUS_VARIANTS = 4
PRIORITIES = ("Low", "Medium", "High")


@dataclass
class Result:
    metrics: dict
    attempted: int
    failed: int
    detail: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    root: str
    tracer: object
    trace: bool


# -- shared CDC inputs --------------------------------------------------------


def install_events(seed: int, n: int = INSTALL_KEYS) -> list[dict]:
    rng = random.Random(seed)
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    out = []
    for i in range(n):
        ts = (base + dt.timedelta(seconds=i, microseconds=rng.randrange(10**6))).isoformat()
        out.append(
            {
                "action": "created",
                "id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
                "title": f"install-{i}",
                "content": "x" * rng.randrange(20, 120),
                "priority": rng.choice(PRIORITIES),
                "author": "install",
                "created_at": ts,
                "updated_at": ts,
            }
        )
    return out


def write_install(log_dir: str, events: list[dict]) -> None:
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, INSTALL_FILE), "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in events)


def view_rows(spark, store) -> dict[str, tuple]:
    """Live view as ``{id: oracle.normalize-shaped tuple}``."""
    from pyspark.sql import functions as F

    cols = [
        F.unix_micros(F.col(c)).alias(c) if c.endswith("_at") else F.col(c)
        for c in oracle.FIELDS
    ]
    live = store.read_live(spark)
    if live is None:
        return {}
    return {r[0]: tuple(r[1:]) for r in live.select("id", *cols).collect()}


def epoch_stats(progress) -> list[dict]:
    """Per data-carrying micro-batch: rows, trigger/apply/plan ms."""
    out = []
    for p in progress:
        p = p if isinstance(p, dict) else json.loads(p.json)
        if not p.get("numInputRows"):
            continue
        d = p.get("durationMs", {})
        out.append(
            {
                "batch": p["batchId"],
                "rows": p["numInputRows"],
                "trigger_ms": d.get("triggerExecution", 0),
                "apply_ms": d.get("addBatch", 0),
                "plan_ms": d.get("latestOffset", 0)
                + d.get("getBatch", 0)
                + d.get("queryPlanning", 0),
            }
        )
    return out


def _median_setup(ctx: Context, build, teardown):
    times, state = [], None
    for k in range(SETUPS):
        if state is not None:
            teardown(state)
        t = time.perf_counter()
        state = build(os.path.join(ctx.work, f"setup{k}"))
        times.append(time.perf_counter() - t)
    return median(times), times, state


# -- cdc_live -------------------------------------------------------------------


def cdc_live(ctx: Context) -> Result:
    from nexus_event_stream_spark.command import SignalCommands
    from nexus_event_stream_spark.serving import SignalService
    from nexus_event_stream_spark.serving_http import serve
    from nexus_event_stream_spark.sources.streams import (
        file_event_stream,
        parse_events,
    )
    from nexus_event_stream_spark.streaming.projection import (
        ParquetViewStore,
        start_projection,
    )

    spark = ctx.spark
    install = install_events(ctx.seed)

    def build(d):
        log = os.path.join(d, "log")
        write_install(log, install)
        cmds = SignalCommands(log)
        q = start_projection(
            spark,
            parse_events(file_event_stream(spark, log)),
            os.path.join(d, "view"),
            os.path.join(d, "ckpt"),
        )
        q.processAllAvailable()
        store = ParquetViewStore(os.path.join(d, "view"))
        server = serve(SignalService(spark, store), commands=cmds)
        return {"dir": d, "log": log, "q": q, "store": store, "server": server}

    def teardown(s):
        s["server"].shutdown()
        s["server"].server_close()
        s["q"].stop()

    setup_s, setup_all, s = _median_setup(ctx, build, teardown)
    ctx.tracer.reset()
    try:
        return _cdc_live_measure(ctx, s, install, setup_s, setup_all)
    finally:
        teardown(s)


def _cdc_live_measure(ctx, s, install, setup_s, setup_all) -> Result:
    installed_batches = len(epoch_stats(s["q"].recentProgress))
    rng = random.Random(ctx.seed + 7)
    frozen = rng.sample(install, FROZEN_KEYS)
    frozen_ids = {e["id"] for e in frozen}
    spec = {
        "seed": ctx.seed,
        "rate": LIVE_RATE,
        "seconds": ctx.seconds,
        "port": s["server"].server_address[1],
        "pointer": os.path.join(s["dir"], "view", "_CURRENT"),
        "mutable": [e["id"] for e in install if e["id"] not in frozen_ids],
        "frozen": {e["id"]: e for e in frozen},
        "frozen_by_priority": {
            p: [e["id"] for e in frozen if e["priority"] == p] for p in PRIORITIES
        },
    }
    spec_path = os.path.join(ctx.work, "loadgen-spec.json")
    out_path = os.path.join(ctx.work, "loadgen-out.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    gen = subprocess.Popen(
        [sys.executable, "-m", "perfbench.loadgen", "--spec", spec_path,
         "--out", out_path],
        cwd=ctx.root,
        env={**os.environ, "PYTHONPATH": ctx.root},
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        line = gen.stdout.readline().strip()
        if line != "done":
            raise RuntimeError(f"load generator failed: {line!r}")
        t_drain = time.perf_counter()
        s["q"].processAllAvailable()
        drain_s = time.perf_counter() - t_drain
        time.sleep(0.05)  # one more pointer poll after the last commit
        gen.stdin.write("stop\n")
        gen.stdin.flush()
        gen.wait(timeout=60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    with open(out_path) as fh:
        res = json.load(fh)
    progress = epoch_stats(s["q"].recentProgress)[installed_batches:]

    writes, reads = res["writes"], res["reads"]
    ok_writes = [w for w in writes if w["ok"]]
    for w in ok_writes:
        w["key"] = envelope_key(w["event"])
    key_to_file = files_by_key(s["log"], skip={INSTALL_FILE})
    fresh, missing = freshness(
        ok_writes, key_to_file, batch_of_files(os.path.join(s["dir"], "ckpt")),
        CommitLog(res["commits"]),
    )
    expected = oracle.live(oracle.fold(install + [w["event"] for w in ok_writes]))
    view_bad = oracle.diff(expected, view_rows(ctx.spark, s["store"]))

    failed = (
        (len(writes) - len(ok_writes))
        + sum(not r["ok"] for r in reads)
        + len(missing)
        + view_bad
        + abs(len(key_to_file) - len(ok_writes))  # one command file per acked write
    )
    attempted = len(writes) + len(reads)

    def lat(kind, unknown=False):
        return summarize(
            [r["ms"] for r in reads if r["kind"] == kind and r["unknown"] == unknown]
        )

    write_ms = [(w["ack"] - w["sched"]) * 1e3 for w in writes]
    late_ms = [(w["send"] - w["sched"]) * 1e3 for w in writes]
    detail = {
        "setup_runs_s": setup_all,
        "freshness_s": summarize(fresh, (50, 90, 95)),
        "write_ms": summarize(write_ms, (50, 95)),
        "writer_late_ms_max": max(late_ms) if late_ms else None,
        "get_ms": lat("get"),
        "list_ms": lat("list"),
        "filter_ms": lat("filter"),
        "filter_unknown_ms": lat("filter", True),
        "reads": len(reads),
        "writes": len(writes),
        "drain_s": drain_s,
        "epochs": len(progress),
        "epoch_trigger_ms": summarize([p["trigger_ms"] for p in progress]),
        "view_mismatches": view_bad,
        "failed_frac": failed / max(attempted, 1),
    }
    # reads per second of one reader cycle (one read of each kind), from
    # per-kind median latencies: where the run cuts a cycle does not matter,
    # and one read stalled behind an epoch does not swing the figure
    kinds = [("list", False), ("filter", False), ("get", False), ("filter", True)]
    cycle_ms = sum(
        median(ms)
        for ms in (
            [r["ms"] for r in reads if (r["kind"], r["unknown"]) == k] for k in kinds
        )
        if ms
    )
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": len(kinds) / cycle_ms * 1e3,
        "latency_p50_ms": median(fresh) * 1e3 if fresh else float("nan"),
    }
    ctx.tracer.observe_epochs(progress, os.path.join(s["dir"], "ckpt"))
    return Result(metrics, attempted, min(failed, attempted), detail)


# -- cold start: bucketed catch-up and serving-layout publish ------------------


def write_commands(cmds, install: list[dict], seed: int) -> None:
    """``CATCHUP_COMMANDS`` commands through ``SignalCommands``, one file
    each, with the load generator's op mix over the install ids and the new
    ones."""
    pool = [e["id"] for e in install]
    ops = write_ops(random.Random(seed + 11), CATCHUP_COMMANDS)
    for method, body, pick in ops:
        if method == "POST":
            pool.append(cmds.create(**body))
            continue
        target = pool[int(pick * len(pool))]
        if method == "PATCH":
            cmds.update(target, **body)
        else:
            cmds.delete(target)
            pool.remove(target)


def log_events(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("cmd-") and name.endswith(".json"):
            with open(os.path.join(log_dir, name)) as fh:
                events.extend(json.loads(ln) for ln in fh if ln.strip())
    return events


def layout_answers(live: dict[str, dict]) -> dict:
    """What the serving layout must return: the newest ``LIST_LIMIT`` ids in
    order, and the id set of every priority (an unknown one is empty)."""
    newest = sorted(
        live.values(), key=lambda e: (-oracle.to_micros(e["created_at"]), e["id"])
    )[:LIST_LIMIT]
    out = {"list": [e["id"] for e in newest], UNKNOWN_PRIORITY: set()}
    for p in PRIORITIES:
        out[p] = {e["id"] for e in live.values() if e["priority"] == p}
    return out


def cold_start_publish(ctx: Context) -> tuple[int, int, dict]:
    """Replay a command log cold into the bucketed store, publish the
    Z-ordered serving layout, and read it; returns ``(attempted, failed,
    detail)``.  The final view must equal the oracle's fold of the log, and
    every layout read the oracle's answer."""
    from nexus_event_stream_spark.command import SignalCommands
    from nexus_event_stream_spark.sources.streams import (
        file_event_stream,
        parse_events,
    )
    from nexus_event_stream_spark.streaming import serving_layout
    from nexus_event_stream_spark.streaming.projection import (
        BucketedViewStore,
        start_projection,
    )

    spark = ctx.spark
    install = install_events(ctx.seed, CATCHUP_KEYS)
    d = os.path.join(ctx.work, "cold-start")
    log = os.path.join(d, "log")
    write_install(log, install)
    write_commands(SignalCommands(log), install, ctx.seed)
    events = log_events(log)
    view, ckpt = os.path.join(d, "view"), os.path.join(d, "ckpt")

    t = time.perf_counter()
    q = start_projection(
        spark,
        parse_events(file_event_stream(spark, log)),
        view,
        ckpt,
        bucketed=True,
    )
    try:
        q.processAllAvailable()
        catchup_s = time.perf_counter() - t
        progress = epoch_stats(q.recentProgress)
    finally:
        q.stop()
    store = BucketedViewStore(view)
    serving = os.path.join(d, "serving")
    t = time.perf_counter()
    serving_layout.publish_serving_snapshot(spark, store, serving)
    publish_s = time.perf_counter() - t

    live = oracle.live(oracle.fold(events))
    want = layout_answers(live)
    reads = []
    for _ in range(LAYOUT_READ_ROUNDS):
        for arg in ("list",) + PRIORITIES + (UNKNOWN_PRIORITY,):
            t = time.perf_counter()
            with ctx.tracer.span("serving_layout.read"):
                if arg == "list":
                    df, stats = serving_layout.serve_list_newest(spark, serving)
                else:
                    df, stats = serving_layout.serve_filter_priority(
                        spark, serving, arg)
                rows = df.collect()
            ms = (time.perf_counter() - t) * 1e3
            ids = [r["id"] for r in rows]
            ok = ids == want["list"] if arg == "list" else set(ids) == want[arg]
            ok = ok and len(ids) == len(set(ids))
            reads.append({"arg": arg, "ms": ms, "ok": ok, **stats})
    view_bad = oracle.diff(live, view_rows(spark, store))

    failed = sum(not r["ok"] for r in reads) + view_bad
    read_ms = [r["ms"] for r in reads]
    detail = {
        "events": len(events),
        "catchup_s": catchup_s,
        "catchup_events_per_s": len(events) / catchup_s,
        "epochs": len(progress),
        "publish_s": publish_s,
        "layout_read_ms": summarize(read_ms),
        "view_mismatches": view_bad,
    }
    ctx.tracer.observe_epochs(progress, ckpt)
    ctx.tracer.observe_cold_start(detail["catchup_events_per_s"], reads)
    return len(reads) + 1, failed, detail


# -- corpus_prep ----------------------------------------------------------------


def _expected_corpus() -> dict:
    with open(os.path.join(os.path.dirname(__file__), "expected_corpus.json")) as fh:
        return json.load(fh)


def corpus_prep(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from nexus_event_stream_spark.pipeline import (
        CorpusRecipe,
        prepare_training_corpus,
    )
    from perfbench.corpus import base_documents, mirrored

    spark = ctx.spark
    variant = ctx.seed % CORPUS_VARIANTS
    pdf = mirrored(base_documents(variant), CORPUS_MIRRORS)
    n_docs = len(pdf)

    def build(_d):
        docs = (
            spark.createDataFrame(pdf, "doc_id long, source string, text string")
            .repartition(spark.sparkContext.defaultParallelism)
            .persist()
        )
        docs.count()
        return docs

    setup_s, setup_all, docs = _median_setup(
        ctx, build, lambda d: d.unpersist(True)
    )
    ctx.tracer.reset()
    sources = sorted(pdf["source"].unique())
    recipe = CorpusRecipe(
        minhash_params={"threshold": 0.05, "max_bucket_size": 200},
        benchmark=docs.filter(F.col("doc_id") % 50 == 0),
        # 13-grams (the recipe default): over a 30-word vocabulary every
        # document shares some 3-gram with the benchmark split, so n=3
        # leaves an empty corpus and the later stages idle
        decontaminate_n=13,
        passage_dedup_n=3,
        mixture={s: 1.5 for s in sources},
        seq_len=512,
        persist_deduped=True,
    )
    want = _expected_corpus().get(str(variant))
    # one pass per run: a pass takes longer than a run's measured length
    t = time.perf_counter()
    with ctx.tracer.span("pipeline.build"):
        _, stages = prepare_training_corpus(docs, recipe)
    # the packing map (≈7k small rows) is cached on its way to the noop
    # write, so checking the answer afterwards does not rerun the pipeline
    packing = stages["packing"].persist()
    with ctx.tracer.span("pipeline.action"):
        packing.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t
    # documents placed (one ``__order`` per corpus row with tokens),
    # spans, and an order-free hash of the spans
    row = packing.select(
        F.countDistinct("__order").alias("docs"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*packing.columns)).alias("h"),
    ).first()
    answer = {"docs": row["docs"], "packing_rows": row["n"],
              "packing_hash": int(row["h"] or 0)}
    failed = int(answer != want)
    attempted = 1
    cold = None
    if ctx.trace:
        # the serving-layout layer: its publish is too slow for every run
        # (see CATCHUP_KEYS), so only the traced run measures it, after the pass
        packing.unpersist()
        docs.unpersist()
        n, bad, cold = cold_start_publish(ctx)
        attempted += n
        failed += bad
    detail = {
        "setup_runs_s": setup_all,
        "variant": variant,
        "docs_in": n_docs,
        "pass_s": wall,
        "answer": answer,
        "expected": want,
        "cold_start": cold,
        "failed_frac": failed / attempted,
    }
    # throughput and latency are both read off the one pass time
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": n_docs / wall,
        "latency_p50_ms": wall * 1e3,
    }
    return Result(metrics, attempted, failed, detail)


WORKLOADS = {"cdc_live": cdc_live, "corpus_prep": corpus_prep}
