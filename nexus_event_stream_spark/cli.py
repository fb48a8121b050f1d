"""CLI parity — the reference's ``nexus-cli {list|get|health}``
(data-plane/cmd/cli/main.go) over the Spark view.

Rendering mirrors the reference's table output: fixed columns, content
truncated at 40 chars with an ellipsis (cli/main.go:165-170), timestamps
as ``yyyy-MM-dd HH:mm`` (cli/main.go:157-163).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys

from nexus_event_stream_spark.serving import NotFoundError, SignalService

TRUNC = 40


def _trunc(s: str | None) -> str:
    s = s or ""
    return s if len(s) <= TRUNC else s[: TRUNC - 1] + "…"


def _fmt_ts(ts) -> str:
    return ts.strftime("%Y-%m-%d %H:%M") if ts else ""


def _signal(row: dict) -> dict:
    """A decoded signal row with its ISO timestamps back as datetimes."""
    for k in ("created_at", "updated_at"):
        if row[k] is not None:
            row[k] = dt.datetime.fromisoformat(row[k])
    return row


def render_list(rows) -> str:
    header = f"{'ID':<38} {'TITLE':<40} {'PRIORITY':<8} {'CREATED':<16}"
    lines = [header]
    for r in rows:
        lines.append(
            f"{_trunc(r['id']):<38} {_trunc(r['title']):<40} "
            f"{r['priority'] or '':<8} {_fmt_ts(r['created_at']):<16}"
        )
    return "\n".join(lines)


def render_get(row) -> str:
    return "\n".join(
        f"{k}: {row[k] if not hasattr(row[k], 'strftime') else _fmt_ts(row[k])}"
        for k in ("id", "title", "content", "priority", "author", "created_at", "updated_at")
    )


def render_rollups(rows, dims: tuple[str, ...]) -> str:
    dim_hdr = " ".join(f"{d.upper():<12}" for d in dims)
    header = (
        f"{'BUCKET':<17} {dim_hdr}{'N':>8} {'SUM':>12} {'MIN':>10} "
        f"{'MAX':>10} {'AVG':>10}"
    )
    lines = [header]
    for r in rows:
        dim_vals = " ".join(f"{_trunc(str(r[d]))[:12]:<12}" for d in dims)
        lines.append(
            f"{_fmt_ts(r['bucket_ts']):<17} {dim_vals}{r['n_events']:>8} "
            f"{r['sum_value']:>12.2f} {r['min_value']:>10.2f} "
            f"{r['max_value']:>10.2f} {r['avg_value']:>10.2f}"
        )
    return "\n".join(lines)


def render_search(rows) -> str:
    header = f"{'RANK':>4} {'DOC':>12} {'SCORE':>12}"
    lines = [header]
    for r in rows:
        lines.append(f"{r['rank']:>4} {r['doc_id']:>12} {r['score']:>12.4f}")
    return "\n".join(lines)


def render_similar(rows) -> str:
    header = f"{'RANK':>4} {'VEC':>12} {'COSINE':>10}"
    lines = [header]
    for r in rows:
        lines.append(f"{r['rank']:>4} {r['vec_id']:>12} {r['cosine']:>10.4f}")
    return "\n".join(lines)


def main(
    service: SignalService,
    argv: list[str] | None = None,
    rollups=None,
    search=None,
    similar=None,
) -> int:
    parser = argparse.ArgumentParser(prog="nexus-spark-cli")
    sub = parser.add_subparsers(dest="cmd", required=True)
    lp = sub.add_parser("list")
    lp.add_argument("--priority", default=None)
    gp = sub.add_parser("get")
    gp.add_argument("id")
    sub.add_parser("health")
    rp = sub.add_parser("rollups")
    rp.add_argument("--top", type=int, default=50)
    rp.add_argument(
        "--dim", action="append", default=[], metavar="NAME=VALUE",
        help="equality filter on a rollup dimension (repeatable)",
    )
    sp = sub.add_parser("search")
    sp.add_argument("query")
    sp.add_argument("--top", type=int, default=10)
    mp = sub.add_parser("similar")
    mp.add_argument("vec_id", type=int)
    mp.add_argument("--top", type=int, default=10)
    mp.add_argument("--nprobe", type=int, default=4)
    args = parser.parse_args(argv)

    if args.cmd == "list":
        rows = json.loads(service.list(priority=args.priority))
        print(render_list([_signal(r) for r in rows]))
        return 0
    if args.cmd == "get":
        try:
            print(render_get(_signal(json.loads(service.get(args.id)))))
            return 0
        except NotFoundError:
            print("error: signal not found", file=sys.stderr)
            return 1
    if args.cmd == "health":
        h = service.health()
        print(f"status: {h['status']} rows: {h['rows']}")
        return 0 if h["view_exists"] else 1
    if args.cmd == "rollups":
        if rollups is None:
            print("error: no rollup store configured", file=sys.stderr)
            return 2
        dims = {}
        for spec in args.dim:
            name, sep, value = spec.partition("=")
            if not sep:
                print(f"error: --dim expects NAME=VALUE, got {spec!r}", file=sys.stderr)
                return 2
            dims[name] = value
        try:
            rows = rollups.list(top=args.top, dims=dims)
        except NotFoundError:
            print("error: rollup not found", file=sys.stderr)
            return 1
        except ValueError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        print(render_rollups(rows, tuple(rollups.store.dims)))
        return 0
    if args.cmd == "search":
        if search is None:
            print("error: no search index configured", file=sys.stderr)
            return 2
        try:
            rows = search.search(args.query, k=args.top)
        except NotFoundError:
            print("error: search index not found", file=sys.stderr)
            return 1
        except ValueError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        print(render_search(rows))
        return 0
    if args.cmd == "similar":
        if similar is None:
            print("error: no similarity index configured", file=sys.stderr)
            return 2
        try:
            rows = similar.similar(args.vec_id, k=args.top, nprobe=args.nprobe)
        except NotFoundError as exc:
            print(f"error: not found: {exc}", file=sys.stderr)
            return 1
        print(render_similar(rows))
        return 0
    return 2
