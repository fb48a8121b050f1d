"""Pure-Python last-write-wins fold: the reference answer for the CDC views.

Ordering matches the package's fold (operators/lww.py): per key the event
with the greatest ``(updated_at, created_at, title)`` wins, each compared
descending with NULL ranking above any value, so a 2-key delete envelope
(no timestamps) beats every timestamped event.  The state keeps
tombstones; ``live`` drops them.
"""

from __future__ import annotations

import datetime as dt

ORDER = ("updated_at", "created_at", "title")
FIELDS = ("title", "content", "priority", "author", "created_at", "updated_at")
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def to_micros(ts: str | None) -> int | None:
    """ISO-8601 string → integer microseconds since the epoch (UTC when
    the string carries no offset)."""
    if ts is None:
        return None
    d = dt.datetime.fromisoformat(ts)
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    delta = d - _EPOCH
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def _rank(ev: dict) -> tuple:
    key = []
    for c in ORDER:
        v = ev.get(c)
        if c != "title":
            v = to_micros(v)
        key.append((True, 0) if v is None else (False, v))
    return tuple(key)


def fold(events) -> dict[str, dict]:
    """Latest envelope per id, tombstones included."""
    state: dict[str, dict] = {}
    for ev in events:
        id_ = ev.get("id")
        if id_ is None:
            continue
        cur = state.get(id_)
        if cur is None or _rank(ev) >= _rank(cur):
            state[id_] = ev
    return state


def live(state: dict[str, dict]) -> dict[str, dict]:
    return {k: v for k, v in state.items() if v.get("action") != "deleted"}


def normalize(ev: dict) -> tuple:
    """Comparable view row: timestamps as microseconds."""
    return tuple(
        to_micros(ev.get(f)) if f.endswith("_at") else ev.get(f) for f in FIELDS
    )


def diff(expected: dict[str, dict], actual: dict[str, tuple]) -> int:
    """Number of ids whose row differs, is missing, or is extra.
    ``actual`` maps id → ``normalize``-shaped tuple."""
    bad = len(set(actual) - set(expected))
    for id_, ev in expected.items():
        if actual.get(id_) != normalize(ev):
            bad += 1
    return bad

