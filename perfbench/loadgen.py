"""Load generator for the ``cdc_live`` workload, run as its own process.

    python3 -m perfbench.loadgen --spec spec.json --out result.json

Two connections at most, one per thread:

- the **writer** is open loop: write ``k`` is scheduled at
  ``t0 + k / rate`` and sent then, or as soon as the previous write is
  acknowledged if that is later (how late it ran is recorded).  Its latency
  is measured from the scheduled time.  The mix is ≈30 % POST, 60 % PATCH,
  10 % DELETE over ids the writer owns (its own creations plus the
  install's mutable ids);
- the **reader** is closed loop and cycles ``GET /signals``,
  ``GET /signals?priority=P`` (a real priority, then an unknown one) and
  ``GET /signals/{id}`` on install ids nobody mutates, checking each
  answer.

A third thread polls the view store's pointer file and records when each
epoch first appears.  After ``--seconds`` the generator prints ``done``,
keeps polling until a line arrives on stdin, then writes ``--out``.
All choices come from the spec's seed; only server-made ids and clocks vary.
"""

from __future__ import annotations

import argparse
import datetime as dt
import http.client
import json
import random
import sys
import threading
import time

PRIORITY_NAMES = {1: "Low", 2: "Medium", 3: "High"}
UNKNOWN_PRIORITY = "Urgent"
LIST_LIMIT = 50


def _request(port: int, method: str, path: str, body: dict | None = None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        data = None if body is None else json.dumps(body).encode()
        headers = {"Content-Type": "application/json"} if data else {}
        conn.request(method, path, body=data, headers=headers)
        resp = conn.getresponse()
        raw = resp.read()
        return resp.status, (json.loads(raw) if raw else None)
    finally:
        conn.close()


def _ts(s: str) -> dt.datetime:
    d = dt.datetime.fromisoformat(s)
    return d if d.tzinfo else d.replace(tzinfo=dt.timezone.utc)


def write_ops(rng: random.Random, n: int):
    """The writer's op kinds and payloads; targets are picked at run time
    by index into the writer's pool, from the same stream."""
    ops = []
    for k in range(n):
        r = rng.random()
        if r < 0.3:
            ops.append(
                (
                    "POST",
                    {
                        "title": f"live-{k}-{rng.randrange(10**6)}",
                        "content": "c" * rng.randrange(20, 120),
                        "priority": rng.choice((1, 2, 3)),
                    },
                    rng.random(),
                )
            )
        elif r < 0.9:
            field = rng.choice(("title", "content", "priority"))
            value = (
                rng.choice((1, 2, 3))
                if field == "priority"
                else f"{field}-{k}-{rng.randrange(10**6)}"
            )
            ops.append(("PATCH", {field: value}, rng.random()))
        else:
            ops.append(("DELETE", None, rng.random()))
    return ops


def run_writer(port, ops, rate, pool, out, stop):
    t0 = time.monotonic()
    for k, (method, body, pick) in enumerate(ops):
        sched = t0 + k / rate
        now = time.monotonic()
        if now < sched:
            time.sleep(sched - now)
        send = time.monotonic()
        if method == "POST":
            path = "/signals"
        else:
            target = pool[int(pick * len(pool))]
            path = f"/signals/{target}"
        try:
            status, payload = _request(port, method, path, body)
        except OSError as exc:
            status, payload = 0, {"error": str(exc)}
        ack = time.monotonic()
        ok = status == {"POST": 201, "PATCH": 200, "DELETE": 204}[method]
        rec = {"k": k, "method": method, "sched": sched, "send": send,
               "ack": ack, "status": status, "ok": ok}
        if ok and method == "DELETE":
            pool.remove(target)
            rec["event"] = {"action": "deleted", "id": target}
        elif ok:
            if method == "POST":
                pool.append(payload["id"])
            rec["event"] = {"action": "created" if method == "POST" else "updated",
                            **payload}
        out.append(rec)
    stop.set()


def check_read(kind, status, body, spec, arg) -> bool:
    if status != 200:
        return False
    if kind == "list":
        if len(body) != LIST_LIMIT:
            return False
        ts = [_ts(r["created_at"]) for r in body]
        return all(a >= b for a, b in zip(ts, ts[1:]))
    if kind == "filter":
        if arg == UNKNOWN_PRIORITY:
            return body == []
        ids = [r["id"] for r in body]
        return (
            len(body) > 0
            and all(r["priority"] == arg for r in body)
            and ids == sorted(ids)
            and set(spec["frozen_by_priority"][arg]) <= set(ids)
        )
    want = spec["frozen"][arg]
    return all(
        (_ts(body[f]) == _ts(want[f]) if f.endswith("_at") else body[f] == want[f])
        for f in want
        if f != "action"
    )


def run_reader(port, rng, spec, out, stop):
    frozen = sorted(spec["frozen"])
    while not stop.is_set():
        prio = PRIORITY_NAMES[rng.choice((1, 2, 3))]
        get_id = rng.choice(frozen)
        plan = [
            ("list", "/signals", None),
            ("filter", f"/signals?priority={prio}", prio),
            ("get", f"/signals/{get_id}", get_id),
            ("filter", f"/signals?priority={UNKNOWN_PRIORITY}", UNKNOWN_PRIORITY),
        ]
        for kind, path, arg in plan:
            if stop.is_set():
                break
            t = time.monotonic()
            try:
                status, body = _request(port, "GET", path)
            except OSError:
                status, body = 0, None
            done = time.monotonic()
            out.append({
                "kind": kind,
                "unknown": arg == UNKNOWN_PRIORITY,
                "ms": (done - t) * 1e3,
                "ok": check_read(kind, status, body, spec, arg),
                "status": status,
            })


def run_poller(pointer_path, out, stop):
    last = None
    while not stop.is_set():
        try:
            with open(pointer_path) as fh:
                epoch = json.load(fh).get("epoch")
        except (OSError, ValueError):
            epoch = None
        if epoch != last and epoch is not None:
            out.append((time.monotonic(), epoch))
            last = epoch
        time.sleep(0.002)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(args.spec) as fh:
        spec = json.load(fh)
    rng = random.Random(spec["seed"])
    n_writes = int(spec["rate"] * spec["seconds"])
    ops = write_ops(rng, n_writes)
    pool = list(spec["mutable"])
    writes, reads, commits = [], [], []
    writes_done, poll_stop = threading.Event(), threading.Event()
    poller = threading.Thread(
        target=run_poller, args=(spec["pointer"], commits, poll_stop)
    )
    poller.start()
    t_start = time.monotonic()
    writer = threading.Thread(
        target=run_writer,
        args=(spec["port"], ops, spec["rate"], pool, writes, writes_done),
    )
    reader = threading.Thread(
        target=run_reader,
        args=(spec["port"], random.Random(spec["seed"] + 1), spec, reads,
              writes_done),
    )
    writer.start()
    reader.start()
    writer.join()
    reader.join()
    t_end = time.monotonic()
    print("done", flush=True)
    sys.stdin.readline()
    poll_stop.set()
    poller.join()
    with open(args.out, "w") as fh:
        json.dump({"writes": writes, "reads": reads, "commits": commits,
                   "t_start": t_start, "t_end": t_end}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
