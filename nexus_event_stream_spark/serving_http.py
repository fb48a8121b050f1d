"""HTTP read API parity — the data plane's endpoints over the Spark view.

Reference contracts (data-plane/internal/handler/signal.go:24-81):

- ``GET /signals``              → JSON list, top-50 newest-first
- ``GET /signals?priority=P``   → filtered; unknown P → empty list (200)
- ``GET /signals/{id}``         → record or 404 ``{"error": "..."}``
- ``GET /health``               → 200/503 with status body
- ``GET /rollups``              → finalized time-bucket aggregates,
  newest-first top-N (?top=, default 50), dim-equality query params
  (?event_type=click); 404 envelope before the first committed epoch,
  400 on unknown dimensions — the signals envelope contract extended to
  the continuous-aggregate view (no reference counterpart endpoint; the
  envelope/ordering discipline is handler/signal.go:24-60's)
- errors use the ``{"error": msg}`` envelope; Content-Type is JSON

Write surface (r13 — the one reference entry point that had no HTTP
twin): the control plane's CRUD viewset
(control-plane/nexus/urls.py:24-35, views.py:17-20) routed onto the
command side's event-log-first envelope builders (command.py):

- ``POST /signals``           → 201 + the created entity (id included)
- ``PUT /signals/{id}``       → 200 + full update (title/content required)
- ``PATCH /signals/{id}``     → 200 + partial update
- ``DELETE /signals/{id}``    → 204, empty body
- unknown id → 404 ``{"error": ...}``; field validation failures → 400
  with the DRF error shape ``{"field": ["message", ...]}``
  (serializers.py:16-18's ModelSerializer validation analogue:
  title/content required strings, title ≤ 255 chars, priority an
  integer choice in {1, 2, 3}, unknown fields ignored); a body that is
  not a JSON object → 400 ``{"error": ...}``
- with no ``commands`` mounted, write methods answer 501 (read-only)

Writes land in the command log, NOT directly in the view — the
projection (streaming/projection.py) folds them in, exactly like the
reference's post-commit signal → consumer path (signals.py:58-88 →
consumer.go). A ``GET /signals/{id}`` immediately after a ``POST``
therefore reads the view's last projected epoch (eventual consistency —
the CQRS seam, SURVEY §1).

Route parity: every endpoint also answers under the reference's
``/api/v1/`` prefix (urls.py:33), so its curl examples replay verbatim.

Auth parity: the reference gates every endpoint with ``IsAuthenticated``
(control-plane/nexus/core/views.py:10,15,19) and mounts DRF's
``api-auth/`` (control-plane/nexus/urls.py:35). The analogue here is a
thin bearer-token hook: pass ``auth_token`` to require
``Authorization: Bearer <token>`` on every data endpoint — missing/wrong
credentials get the 401 ``{"error": ...}`` envelope. ``/health`` stays
open (liveness probes don't carry credentials). Default is open, matching
the data plane's public read handler (handler/signal.go).

Built on the stdlib server — the API tier is deliberately thin: every
endpoint is one DataFrame query (serving.py); a production deployment
would put the same three calls behind any ASGI framework.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from nexus_event_stream_spark.serving import (
    DirectoryService,
    NotFoundError,
    RollupService,
    SearchService,
    SignalService,
    SimilarService,
)


def _row_to_dict(row) -> dict:
    import datetime as _dt

    d = row.asDict()
    for k, v in d.items():
        if isinstance(v, _dt.datetime):
            d[k] = v.isoformat()
    return d


#: DRF-shaped field validation for the signal write payload
#: (serializers.py:16-18): returns {field: [messages]} — empty when valid.
def _validate_signal_fields(data: dict, partial: bool) -> dict:
    errors: dict[str, list[str]] = {}
    for field in ("title", "content"):
        if field not in data:
            if not partial:
                errors[field] = ["This field is required."]
            continue
        v = data[field]
        if not isinstance(v, str):
            errors[field] = ["Not a valid string."]
        elif field == "title" and len(v) > 255:
            errors[field] = [
                "Ensure this field has no more than 255 characters."
            ]
        elif not v:
            errors[field] = ["This field may not be blank."]
    if "priority" in data and (
        isinstance(data["priority"], bool)
        or data["priority"] not in (1, 2, 3)
    ):
        errors["priority"] = [f'"{data["priority"]}" is not a valid choice.']
    if "author" in data and not isinstance(data["author"], str):
        errors["author"] = ["Not a valid string."]
    return errors


def make_handler(
    service: SignalService,
    directory: DirectoryService | None = None,
    auth_token: str | None = None,
    rollups: RollupService | None = None,
    search: SearchService | None = None,
    similar: SimilarService | None = None,
    commands=None,
):
    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload) -> None:
            self._send_text(code, json.dumps(payload))

        def _send_text(self, code: int, text: str) -> None:
            """Send a JSON body that is already encoded (signal reads)."""
            body = text.encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _authorized(self) -> bool:
            if auth_token is None:
                return True
            import hmac

            got = self.headers.get("Authorization", "")
            # constant-time compare: a timing oracle on the token would
            # defeat the point of requiring one
            return hmac.compare_digest(got, f"Bearer {auth_token}")

        def _route(self):
            """Split the path; the reference mounts the API under
            /api/v1/ (urls.py:33) — accept both prefixes."""
            url = urlparse(self.path)
            parts = [p for p in url.path.split("/") if p]
            if parts[:2] == ["api", "v1"]:
                parts = parts[2:]
            return url, parts

        def _read_json_object(self):
            """Request body → dict, or None after sending the 400."""
            try:
                length = int(self.headers.get("Content-Length") or 0)
                data = json.loads(self.rfile.read(length) or b"null")
            except (ValueError, TypeError):
                self._send(400, {"error": "request body is not valid JSON"})
                return None
            if not isinstance(data, dict):
                self._send(
                    400, {"error": "request body must be a JSON object"}
                )
                return None
            return data

        def _write_route(self, method: str) -> None:
            """POST/PUT/PATCH/DELETE /signals — the control plane's CRUD
            viewset (views.py:17-20) over the command log. 201-with-
            entity on create, 404 envelope on unknown id, DRF-shaped
            field errors, 204 on delete."""
            url, parts = self._route()
            try:
                if not self._authorized():
                    self._send(401, {"error": "authentication required"})
                    return
                if commands is None:
                    self._send(
                        501, {"error": "write API not mounted (read-only)"}
                    )
                    return
                is_collection = parts == ["signals"]
                is_item = len(parts) == 2 and parts[0] == "signals"
                if method == "POST" and is_collection:
                    data = self._read_json_object()
                    if data is None:
                        return
                    errors = _validate_signal_fields(data, partial=False)
                    if errors:
                        self._send(400, errors)
                        return
                    id_ = commands.create(
                        data["title"],
                        data["content"],
                        priority=data.get("priority", 1),
                        author=data.get("author"),
                    )
                    self._send(201, commands.get(id_))
                elif method in ("PUT", "PATCH") and is_item:
                    data = self._read_json_object()
                    if data is None:
                        return
                    errors = _validate_signal_fields(
                        data, partial=(method == "PATCH")
                    )
                    if errors:
                        self._send(400, errors)
                        return
                    changes = {
                        k: data[k]
                        for k in ("title", "content", "priority", "author")
                        if k in data
                    }
                    try:
                        if changes:
                            commands.update(parts[1], **changes)
                        else:
                            commands.get(parts[1])  # 404 check only
                    except KeyError:
                        self._send(404, {"error": "signal not found"})
                        return
                    self._send(200, commands.get(parts[1]))
                elif method == "DELETE" and is_item:
                    try:
                        commands.delete(parts[1])
                    except KeyError:
                        self._send(404, {"error": "signal not found"})
                        return
                    self.send_response(204)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                elif is_collection or is_item:
                    self._send(405, {"error": "method not allowed"})
                else:
                    self._send(404, {"error": "not found"})
            except Exception as exc:  # 500 envelope (handler/signal.go:71-81)
                self._send(500, {"error": str(exc)})

        def do_POST(self):  # noqa: N802 (stdlib naming)
            self._write_route("POST")

        def do_PUT(self):  # noqa: N802
            self._write_route("PUT")

        def do_PATCH(self):  # noqa: N802
            self._write_route("PATCH")

        def do_DELETE(self):  # noqa: N802
            self._write_route("DELETE")

        def do_GET(self):  # noqa: N802 (stdlib naming)
            url, parts = self._route()
            try:
                if parts == ["health"]:
                    h = service.health()
                    self._send(200 if h["view_exists"] else 503, h)
                elif not self._authorized():
                    self._send(401, {"error": "authentication required"})
                elif parts == ["signals"]:
                    prio = parse_qs(url.query).get("priority", [None])[0]
                    self._send_text(200, service.list(priority=prio))
                elif len(parts) == 2 and parts[0] == "signals":
                    try:
                        self._send_text(200, service.get(parts[1]))
                    except NotFoundError:
                        self._send(404, {"error": "signal not found"})
                elif parts == ["rollups"] and rollups is not None:
                    qs = parse_qs(url.query)
                    try:
                        top = int(qs.pop("top", ["50"])[0])
                        if top < 0:
                            raise ValueError
                    except ValueError:
                        self._send(
                            400,
                            {"error": "top must be a non-negative integer"},
                        )
                        return
                    dims = {k: v[0] for k, v in qs.items()}
                    try:
                        rows = rollups.list(top=top, dims=dims)
                        self._send(200, [_row_to_dict(r) for r in rows])
                    except NotFoundError:
                        self._send(404, {"error": "rollup not found"})
                    except ValueError as exc:
                        self._send(400, {"error": str(exc)})
                elif parts == ["search"] and search is not None:
                    qs = parse_qs(url.query)
                    q = qs.get("q", [None])[0]
                    if q is None:
                        self._send(400, {"error": "missing query parameter q"})
                        return
                    try:
                        k = int(qs.get("k", ["10"])[0])
                        if k < 0:
                            raise ValueError
                    except ValueError:
                        self._send(
                            400, {"error": "k must be a non-negative integer"}
                        )
                        return
                    try:
                        rows = search.search(q, k=k)
                        self._send(200, [_row_to_dict(r) for r in rows])
                    except NotFoundError:
                        self._send(404, {"error": "search index not found"})
                    except ValueError as exc:
                        self._send(400, {"error": str(exc)})
                elif parts == ["similar"] and similar is not None:
                    qs = parse_qs(url.query)
                    try:
                        vid = int(qs.get("id", [""])[0])
                    except ValueError:
                        self._send(
                            400, {"error": "id must be an integer vector id"}
                        )
                        return
                    try:
                        k = int(qs.get("k", ["10"])[0])
                        nprobe = int(qs.get("nprobe", ["4"])[0])
                        if k < 0 or nprobe < 1:
                            raise ValueError
                    except ValueError:
                        self._send(
                            400,
                            {"error": "k must be >= 0 and nprobe >= 1"},
                        )
                        return
                    try:
                        rows = similar.similar(vid, k=k, nprobe=nprobe)
                        self._send(200, [_row_to_dict(r) for r in rows])
                    except NotFoundError as exc:
                        self._send(404, {"error": f"not found: {exc}"})
                elif parts == ["users"] and directory is not None:
                    self._send(200, [_row_to_dict(r) for r in directory.users()])
                elif parts == ["groups"] and directory is not None:
                    self._send(200, [_row_to_dict(r) for r in directory.groups()])
                else:
                    self._send(404, {"error": "not found"})
            except Exception as exc:  # 500 envelope (handler/signal.go:71-81)
                self._send(500, {"error": str(exc)})

        def log_message(self, *args):  # quiet test output
            pass

    return Handler


def serve(
    service: SignalService,
    port: int = 0,
    directory: DirectoryService | None = None,
    auth_token: str | None = None,
    rollups: RollupService | None = None,
    search: SearchService | None = None,
    similar: SimilarService | None = None,
    commands=None,
) -> ThreadingHTTPServer:
    """Start the read API on a daemon thread; returns the server (use
    ``server.server_address[1]`` for the bound port, ``shutdown()`` to stop).

    ``directory`` optionally mounts the control-plane users/groups listings
    (views.py:7-15) at ``/users`` and ``/groups``. ``rollups`` mounts the
    continuous-aggregate read tier at ``/rollups`` (?top=N + dim-equality
    query params; 404 envelope before the first committed epoch, 400 on an
    unknown dimension — the signal endpoints' envelope discipline applied
    to the analytics view). ``search`` mounts the BM25 read tier at
    ``/search`` (?q=text&k=N; 400 on missing q / bad k, 404 before the
    first committed epoch, empty 200 when no query term is indexed — the
    unknown-priority quirk). ``similar`` mounts the ANN read tier at
    ``/similar`` (?id=vec_id&k=N&nprobe=M; 400 on a non-integer id, 404
    for an unknown id or an empty index, the doc excluded from its own
    neighbors). ``auth_token`` arms the bearer-token gate (401 envelope
    on every data endpoint, reads AND writes; /health open).
    ``commands`` (a ``command.SignalCommands``) mounts the write surface
    — POST/PUT/PATCH/DELETE /signals with the reference viewset's
    status/envelope discipline (see module docstring); without it,
    write methods answer 501 (read-only). Every route also answers
    under the reference's ``/api/v1/`` prefix.
    """
    server = ThreadingHTTPServer(
        ("127.0.0.1", port),
        make_handler(
            service, directory, auth_token, rollups, search, similar,
            commands,
        ),
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
