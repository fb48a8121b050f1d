"""Serving API parity — the data plane's read endpoints as a library.

Reference contracts (data-plane/internal/handler/signal.go:24-60,
projection/signal.go:70-108; CLI client.go:68-77):

- ``list()``                → top-50 newest-first;
- ``list(priority=P)``      → equality filter, ALL matches (the 0-49 range
                              applies only to the unfiltered list —
                              ListByPriority is ByScore with no range);
                              *unknown* priority → empty list, not an
                              error (score-0 quirk);
- ``get(id)``               → single record or ``NotFoundError`` (the Go
                              ``ErrNotFound`` / HTTP 404 analogue);
- ``health()``              → view reachability + row count.

``list`` and ``get`` return the response body as JSON text. A committed
pointer names an immutable snapshot directory, so every answer is a pure
function of (pointer, request): the reference serves from an in-memory
materialized view (Redis sorted sets), and ``SignalService`` does the
same with ONE Spark job per committed pointer. The first read after the
pointer moves collects the live view's ``id``, ``priority``,
``created_at`` and each row's JSON text (encoded in the JVM by
``to_json``) as an Arrow table; every later read of that pointer is
answered from the table by ``pyarrow.compute`` and runs no Spark job
(the Drizzle argument: pay a job's fixed scheduling cost once per
snapshot, not once per read).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from nexus_event_stream_spark.schemas import PRIORITY_SCORES
from nexus_event_stream_spark.streaming.projection import ParquetViewStore

LIST_LIMIT = 50  # handler/signal.go:45 — hardcoded ZRANGE 0 49


#: wire format of a view row: ISO-8601 timestamps to the microsecond,
#: null fields kept (``to_json`` drops them by default)
_JSON_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "ignoreNullFields": "false",
}


class NotFoundError(LookupError):
    """Entity absent from the view (handler 404 / client ErrNotFound)."""


def _json(view: DataFrame) -> Column:
    """A view row as its JSON object text, encoded in the JVM."""
    return F.to_json(F.struct(*view.columns), _JSON_OPTIONS)


@dataclass
class _Snapshot:
    """The live view under one committed pointer, collected once: the
    keys the reads order and filter on, plus each row's JSON text."""

    pointer: dict
    table: pa.Table  # id, priority, created_at, json
    #: priorities present: any other filter answers ``[]`` unmemoized,
    #: so client-chosen strings cannot grow the memo
    priorities: frozenset
    #: response bodies by priority (``None`` = the unfiltered list); a
    #: race between handler threads only computes an equal body twice
    bodies: dict = field(default_factory=dict)

    @classmethod
    def collect(cls, view: DataFrame, pointer: dict) -> _Snapshot:
        table = view.select(
            "id", "priority", "created_at", _json(view).alias("json")
        ).toArrow()
        present = pc.unique(table["priority"]).drop_null().to_pylist()
        return cls(pointer, table, frozenset(present))

    def body(self, priority: str | None) -> str:
        t = self.table
        if priority is None:
            # newest first, ties by id desc, nulls last: Spark's
            # ``orderBy(created_at.desc(), id.desc())``
            order = pc.sort_indices(
                t,
                [("created_at", "descending"), ("id", "descending")],
                null_placement="at_end",
            )[:LIST_LIMIT]
        else:
            # ListByPriority has NO 0-49 range (ZRangeArgs ByScore, exact
            # score): ALL matches, ascending member order, nulls first
            # like Spark's ``id.asc()``
            t = t.filter(pc.equal(t["priority"], priority))
            order = pc.sort_indices(
                t, [("id", "ascending")], null_placement="at_start"
            )
        return "[" + ",".join(t["json"].take(order).to_pylist()) + "]"


@dataclass
class SignalService:
    """The signal read endpoints over a view store's committed snapshot.

    One Spark job per committed pointer: the first read after a commit
    collects the snapshot (``_Snapshot``), and list, filter, get and
    health on that pointer are answered from it with no job. The list
    body and each present priority's body are memoized on the snapshot.

    Trade-offs: the snapshot costs O(|view|) driver memory — the same
    order as what the full-snapshot ``ParquetViewStore`` rewrites every
    epoch; at-scale reads go through ``serving_layout.serve_*`` instead.
    A one-shot caller (the CLI) pays one snapshot build per command,
    which costs more than one filtered query would.
    """

    spark: SparkSession
    store: ParquetViewStore
    #: the snapshot last served; replaced (the old one dropped) when the
    #: committed pointer moves, so one snapshot stays resident
    _snap: _Snapshot | None = field(default=None, init=False, repr=False)
    _build: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False
    )

    def _snapshot(self) -> _Snapshot | None:
        cur = self.store.current()
        if cur is None:
            return None
        snap = self._snap
        if snap is not None and snap.pointer == cur:
            return snap
        with self._build:
            # single flight: a request that waited for another's build
            # re-reads the pointer and serves the snapshot of THAT read —
            # the newest commit, never one superseded (maybe vacuumed)
            # while it waited
            cur = self.store.current()
            snap = self._snap
            if snap is None or snap.pointer != cur:
                view = self.store.read_live(self.spark, cur=cur) if cur else None
                snap = None if view is None else _Snapshot.collect(view, cur)
                self._snap = snap
        return snap

    def list(self, priority: str | None = None) -> str:
        snap = self._snapshot()
        # Unknown display string maps to score 0 → matches nothing
        # (projection/signal.go:21-25,84-96): an empty list, not an error
        if snap is None or (
            priority is not None and priority not in snap.priorities
        ):
            return "[]"
        body = snap.bodies.get(priority)
        if body is None:
            body = snap.bodies[priority] = snap.body(priority)
        return body

    def get(self, id_: str) -> str:
        snap = self._snapshot()
        # ids are unique in the view: the first match is the only one
        i = -1 if snap is None else pc.index(snap.table["id"], id_).as_py()
        if i < 0:
            raise NotFoundError(id_)
        return snap.table["json"][i].as_py()

    def health(self) -> dict:
        snap = self._snapshot()
        return {
            "status": "ok",
            "view_exists": snap is not None,
            "rows": 0 if snap is None else snap.table.num_rows,
        }

    @staticmethod
    def known_priorities() -> dict[str, int]:
        return dict(PRIORITY_SCORES)


def users_newest_first(users: DataFrame) -> list[Row]:
    """User listing parity: ``User.objects.order_by('-date_joined')``
    (control-plane/nexus/core/views.py:7-10). Ties broken by username desc —
    Django leaves tie order to the database; here it must be total.
    """
    return users.orderBy(
        F.col("date_joined").desc(), F.col("username").desc()
    ).collect()


def groups_by_name(groups: DataFrame) -> list[Row]:
    """Group listing parity: ``Group.objects.order_by('-name')``
    (control-plane/nexus/core/views.py:12-15; group name is unique in
    Django's auth model, so the ordering is already total)."""
    return groups.orderBy(F.col("name").desc()).collect()


@dataclass
class RollupService:
    """Read endpoint over a continuously-maintained rollup
    (streaming/rollup.py RollupStore) — the analytics twin of
    ``SignalService``, same envelope discipline as the reference's read
    API (data-plane/internal/handler/signal.go:24-60): top-k list,
    equality dim filters, NotFound when there is nothing to serve.

    Every call is one DataFrame query over the store's finalized view;
    the store's bucket layout (key = bucket_ts) keeps a filtered read
    from rewriting anything — this is a pure read tier.
    """

    spark: SparkSession
    store: object  # RollupStore (duck-typed: .finalized(spark) / .dims)

    def list(
        self, top: int = LIST_LIMIT, dims: dict[str, str] | None = None
    ) -> list[Row]:
        """Newest-first finalized buckets, capped at ``top``; ``dims``
        are equality filters on the store's dimension columns.

        Raises ``NotFoundError`` when the store has never committed an
        epoch (no snapshot to serve — the 404 analogue; an EMPTY filter
        result on a live store is a 200 empty list, matching the
        unknown-priority quirk). Unknown dim names raise ``ValueError``
        (caller error → 400, not a silent full scan)."""
        df = self.store.finalized(self.spark)
        if df is None:
            raise NotFoundError("rollup")
        known = set(self.store.dims)
        for name, value in (dims or {}).items():
            if name not in known:
                raise ValueError(
                    f"unknown dimension {name!r} (have {sorted(known)})"
                )
            df = df.filter(F.col(name) == F.lit(value))
        order = [F.col("bucket_ts").desc()] + [
            F.col(d).asc() for d in self.store.dims
        ]
        return df.orderBy(*order).limit(int(top)).collect()

    def health(self) -> dict:
        cur = self.store.current()
        return {
            "status": "ok",
            "view_exists": cur is not None,
            "epoch": None if cur is None else cur.get("epoch"),
        }


@dataclass
class SearchService:
    """Read endpoint over the streaming BM25 index
    (streaming/search_index.py BM25IndexStore) — full-text retrieval
    behind the reference's read-API envelope discipline
    (data-plane/internal/handler/signal.go:24-60): ``NotFoundError``
    before the first committed epoch (404), ``ValueError`` on a missing/
    blank query (caller error → 400), an all-unknown-terms query returns
    an EMPTY list (200 — the unknown-priority quirk: unmatchable input
    is not an error). Every call is one bucket-pruned DataFrame query."""

    spark: SparkSession
    store: object  # BM25IndexStore (duck-typed: .query / .current)
    #: live stop-term cap forwarded to every query (deployment knob —
    #: small/specialized corpora want it near 1.0)
    max_df_frac: float = 0.5

    def search(self, q: str, k: int = LIST_LIMIT) -> list[Row]:
        if not q or not q.strip():
            raise ValueError("q must be a non-empty query string")
        cur = self.store.current()
        if cur is None or not cur.get("n_docs"):
            raise NotFoundError("search index")
        # ONE pointer read per request: the same snapshot that answered
        # the 404 check resolves the bucket paths, counters, and
        # tombstones — a republish landing mid-request serves the old
        # index or the new one, never a mix (pinned in
        # tests/test_serving_consistency.py, both commit backends)
        df = self.store.query(
            self.spark,
            [(0, q)],
            k=int(k),
            max_df_frac=self.max_df_frac,
            cur=cur,
        )
        if df is None:  # tokenized to nothing / no recognizable terms
            return []
        out = []
        for r in sorted(df.collect(), key=lambda r: r.rank):
            d = r.asDict()
            d.pop("query_id", None)  # internal plumbing, not API surface
            out.append(Row(**d))
        return out

    def health(self) -> dict:
        cur = self.store.current()
        return {
            "status": "ok",
            "view_exists": cur is not None,
            "n_docs": 0 if cur is None else cur.get("n_docs", 0),
        }


@dataclass
class SimilarService:
    """Read endpoint over the streaming ANN index
    (streaming/ann_index.py PQIndexStore / ``active_index``) — "more
    like this" by id, same envelope discipline: unknown id or an index
    with nothing committed → ``NotFoundError`` (404). The query vector
    is looked up from the corpus relation by id, searched through the
    committed IVF-PQ index, and the document itself is excluded from
    its own neighbor list (ranks re-densified 1..k)."""

    spark: SparkSession
    store: object  # PQIndexStore (duck-typed: .search/.current/.id_col/.vec_col)
    embeddings: DataFrame  # corpus relation with the true float vectors

    def similar(self, vec_id: int, k: int = 10, nprobe: int = 4) -> list[Row]:
        cur = self.store.current()
        if cur is None or not cur.get("dirs"):
            raise NotFoundError("similarity index")
        id_col = self.store.id_col
        vec_rows = (
            self.embeddings.filter(F.col(id_col) == F.lit(int(vec_id)))
            .limit(1)
            .collect()
        )
        if not vec_rows:
            raise NotFoundError(str(vec_id))
        vec = [float(x) for x in vec_rows[0][self.store.vec_col]]
        # query_id = the doc's OWN id: ivf_pq_topk's built-in
        # self-exclusion (query_id != vec_id) then drops the doc from
        # its neighbor list with ranks already dense — and, critically,
        # never collides with a real corpus id the way a sentinel like
        # 0 would (a corpus whose ids start at 0 must still be able to
        # return vector 0 as someone's neighbor)
        # same one-pointer-read discipline as /search: the snapshot that
        # answered the 404 check resolves the epoch dirs
        res = self.store.search(
            self.embeddings,
            [(int(vec_id), vec)],
            k=int(k),
            nprobe=int(nprobe),
            cur=cur,
        )
        out = []
        for r in sorted(res.collect(), key=lambda r: r.rank):
            d = r.asDict()
            d.pop("query_id", None)
            out.append(Row(**d))
        return out

    def health(self) -> dict:
        cur = self.store.current()
        return {
            "status": "ok",
            "view_exists": cur is not None,
            "n_vectors": getattr(self.store, "n_indexed", 0),
        }


@dataclass
class DirectoryService:
    """Control-plane auth read endpoints — the users/groups listings the
    reference serves next to signals (views.py:7-15, urls.py router)."""

    users_df: DataFrame
    groups_df: DataFrame

    def users(self) -> list[Row]:
        return users_newest_first(self.users_df)

    def groups(self) -> list[Row]:
        return groups_by_name(self.groups_df)
