"""HTTP API + CLI parity — mirrors handler_test.go / client_test.go /
cli rendering contracts end-to-end against a live server.
"""

from __future__ import annotations

import datetime as dt
import json
import urllib.error
import urllib.request

import pytest

from nexus_event_stream_spark.cli import main as cli_main, render_list
from nexus_event_stream_spark.schemas import STATE_SCHEMA
from nexus_event_stream_spark.serving import SignalService
from nexus_event_stream_spark.serving_http import serve
from nexus_event_stream_spark.streaming.projection import ParquetViewStore

UTC = dt.timezone.utc


def vrow(id_, priority="High", day=23, title=None):
    ts = dt.datetime(2026, 2, day, 18, 0, tzinfo=UTC)
    return ("created", id_, title or f"title-{id_}", "c", priority, "otavio", ts, ts)


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    store = ParquetViewStore(str(tmp_path_factory.mktemp("view")))
    rows = [vrow("s1", "High", 23), vrow("s2", "Low", 22)]
    store.write(spark.createDataFrame(rows, STATE_SCHEMA), epoch=0)
    return SignalService(spark, store)


@pytest.fixture(scope="module")
def base_url(service):
    server = serve(service)
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def get_json(url):
    with urllib.request.urlopen(url) as resp:
        return resp.status, resp.headers["Content-Type"], json.load(resp)


def test_list_endpoint_order_and_content_type(base_url):
    status, ctype, body = get_json(f"{base_url}/signals")
    assert status == 200 and ctype == "application/json"
    assert [r["id"] for r in body] == ["s1", "s2"]  # newest first
    assert body[0]["created_at"].startswith("2026-02-23T18:00")


def test_priority_filter_and_unknown_empty(base_url):
    _, _, body = get_json(f"{base_url}/signals?priority=Low")
    assert [r["id"] for r in body] == ["s2"]
    _, _, body = get_json(f"{base_url}/signals?priority=Bogus")
    assert body == []  # unknown priority: empty, not error


def test_get_and_404_error_envelope(base_url):
    status, _, body = get_json(f"{base_url}/signals/s1")
    assert status == 200 and body["title"] == "title-s1"
    with pytest.raises(urllib.error.HTTPError) as err:
        urllib.request.urlopen(f"{base_url}/signals/ghost")
    assert err.value.code == 404
    assert json.load(err.value)["error"] == "signal not found"


def test_health_endpoint(base_url):
    status, _, body = get_json(f"{base_url}/health")
    assert status == 200 and body["status"] == "ok" and body["rows"] == 2


def test_users_groups_endpoints(spark, service):
    from nexus_event_stream_spark.serving import DirectoryService
    from nexus_event_stream_spark.serving_http import serve as serve_http

    users = spark.createDataFrame(
        [("alice", dt.datetime(2026, 1, 2)), ("bob", dt.datetime(2026, 1, 3))],
        "username string, date_joined timestamp",
    )
    groups = spark.createDataFrame([("dev",), ("ops",)], "name string")
    server = serve_http(service, directory=DirectoryService(users, groups))
    url = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        status, _, body = get_json(f"{url}/users")
        assert status == 200
        assert [u["username"] for u in body] == ["bob", "alice"]
        assert body[0]["date_joined"].startswith("2026-01-03")
        _, _, body = get_json(f"{url}/groups")
        assert [g["name"] for g in body] == ["ops", "dev"]
    finally:
        server.shutdown()


def test_bearer_token_gate_401_envelope_and_open_health(service):
    """Auth parity with the reference's IsAuthenticated gate
    (control-plane/nexus/core/views.py:10,15,19): with auth_token armed,
    every data endpoint returns the 401 {"error": ...} envelope unless
    the exact bearer token is presented; /health stays open for probes."""
    server = serve(service, auth_token="sekret")
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        def status_of(path, token=None):
            req = urllib.request.Request(base + path)
            if token is not None:
                req.add_header("Authorization", f"Bearer {token}")
            try:
                with urllib.request.urlopen(req) as resp:
                    return resp.status, json.load(resp)
            except urllib.error.HTTPError as e:
                return e.code, json.load(e)

        code, body = status_of("/signals")
        assert code == 401 and body == {"error": "authentication required"}
        code, body = status_of("/signals/s1", token="wrong")
        assert code == 401 and "error" in body
        code, body = status_of("/signals", token="sekret")
        assert code == 200 and [r["id"] for r in body] == ["s1", "s2"]
        code, body = status_of("/signals/s1", token="sekret")
        assert code == 200 and body["id"] == "s1"
        code, _body = status_of("/health")  # no credentials
        assert code == 200
    finally:
        server.shutdown()


def test_cli_list_truncation_and_exit_codes(service, capsys):
    long_title = "x" * 60
    assert cli_main(service, ["list"]) == 0
    out = capsys.readouterr().out
    assert "title-s1" in out and "PRIORITY" in out

    rendered = render_list(
        [
            {
                "id": "a",
                "title": long_title,
                "priority": "High",
                "created_at": dt.datetime(2026, 1, 1, 12, 30),
            }
        ]
    )
    assert "x" * 39 + "…" in rendered  # cli/main.go:165-170 truncation
    assert "2026-01-01 12:30" in rendered  # cli/main.go:157-163 format

    assert cli_main(service, ["get", "s1"]) == 0
    assert cli_main(service, ["get", "ghost"]) == 1  # ErrNotFound → exit 1
    assert cli_main(service, ["health"]) == 0


# ---- GET /rollups: the continuous-aggregate read endpoint -----------------


@pytest.fixture(scope="module")
def rollup_service(spark, tmp_path_factory):
    from nexus_event_stream_spark.io import load_table
    from nexus_event_stream_spark.serving import RollupService
    from nexus_event_stream_spark.streaming.rollup import RollupStore

    store = RollupStore(
        str(tmp_path_factory.mktemp("rollup")), n_buckets=4
    )
    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "ts", "event_type", "value"
    )
    store.apply_batch(spark, events, 0)
    return RollupService(spark, store)


def test_rollups_endpoint_order_filter_and_envelopes(service, rollup_service):
    """handler/signal.go:24-60 envelope discipline on the analytics view:
    newest-first top-N, dim-equality filters, 404-on-no-snapshot, 400 on
    an unknown dimension."""
    from nexus_event_stream_spark.serving import RollupService
    from nexus_event_stream_spark.streaming.rollup import RollupStore

    server = serve(service, rollups=rollup_service)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        status, ctype, body = get_json(f"{base}/rollups?top=5")
        assert status == 200 and ctype == "application/json"
        assert len(body) == 5
        # newest-first, dims ascending within a bucket
        keys = [(r["bucket_ts"], r["event_type"]) for r in body]
        assert keys == sorted(keys, key=lambda k: (k[0],), reverse=True) or [
            k[0] for k in keys
        ] == sorted([k[0] for k in keys], reverse=True)
        ts_desc = [r["bucket_ts"] for r in body]
        assert ts_desc == sorted(ts_desc, reverse=True)
        # finalized columns present with float values at the edge
        for r in body:
            assert {"n_events", "sum_value", "min_value", "max_value",
                    "avg_value"} <= set(r)
        # dim filter: only that event_type comes back, and it matches a
        # direct finalized() query
        etype = body[0]["event_type"]
        status, _, filt = get_json(f"{base}/rollups?event_type={etype}&top=1000")
        assert status == 200
        assert {r["event_type"] for r in filt} == {etype}
        want = (
            rollup_service.store.finalized(rollup_service.spark)
            .filter(f"event_type = '{etype}'")
            .count()
        )
        assert len(filt) == want
        # unknown dim VALUE → empty 200 (the unknown-priority quirk)
        status, _, empty = get_json(f"{base}/rollups?event_type=zzz_nope")
        assert status == 200 and empty == []
        # unknown dim NAME → 400 envelope
        try:
            urllib.request.urlopen(f"{base}/rollups?bogus_dim=1")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "bogus_dim" in json.load(e)["error"]
        # non-integer and negative top → 400 envelope (client error,
        # never a 500 from DataFrame.limit)
        for bad_top in ("abc", "-5"):
            try:
                urllib.request.urlopen(f"{base}/rollups?top={bad_top}")
                raise AssertionError("expected 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400 and "top" in json.load(e)["error"]
    finally:
        server.shutdown()

    # 404 envelope before the first committed epoch (empty store)
    import tempfile

    empty_store = RollupStore(tempfile.mkdtemp(prefix="rollup_empty_"))
    empty_service = RollupService(rollup_service.spark, empty_store)
    server = serve(service, rollups=empty_service)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        urllib.request.urlopen(f"{base}/rollups")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404 and json.load(e) == {"error": "rollup not found"}
    finally:
        server.shutdown()


def test_rollups_behind_bearer_gate(service, rollup_service):
    server = serve(service, auth_token="sekret", rollups=rollup_service)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        try:
            urllib.request.urlopen(f"{base}/rollups")
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
        req = urllib.request.Request(f"{base}/rollups?top=2")
        req.add_header("Authorization", "Bearer sekret")
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200 and len(json.load(resp)) == 2
    finally:
        server.shutdown()


def test_cli_rollups_command(service, rollup_service, capsys):
    from nexus_event_stream_spark.cli import main as cli

    # no store configured → usage error
    assert cli(service, ["rollups"]) == 2
    # happy path: header + top rows, newest-first
    assert cli(service, ["rollups", "--top", "3"], rollups=rollup_service) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].startswith("BUCKET") and "EVENT_TYPE" in out[0]
    assert len(out) == 4
    # dim filter matches the service
    etype = rollup_service.list(top=1)[0]["event_type"]
    assert (
        cli(
            service,
            ["rollups", "--dim", f"event_type={etype}", "--top", "5"],
            rollups=rollup_service,
        )
        == 0
    )
    body = capsys.readouterr().out
    assert etype in body
    # unknown dim → exit 2 with the error on stderr; malformed --dim too
    assert (
        cli(service, ["rollups", "--dim", "bogus=1"], rollups=rollup_service)
        == 2
    )
    assert "bogus" in capsys.readouterr().err
    assert (
        cli(service, ["rollups", "--dim", "novalue"], rollups=rollup_service)
        == 2
    )
    # empty store → exit 1, the 404 analogue
    import tempfile

    from nexus_event_stream_spark.serving import RollupService
    from nexus_event_stream_spark.streaming.rollup import RollupStore

    empty = RollupService(
        rollup_service.spark, RollupStore(tempfile.mkdtemp(prefix="rcli_"))
    )
    capsys.readouterr()
    assert cli(service, ["rollups"], rollups=empty) == 1
    assert "rollup not found" in capsys.readouterr().err


# ---------------------------------------------------------------------------
# /search (BM25IndexStore) + /similar (PQIndexStore) read tiers — the
# retrieval indexes behind the same envelope discipline
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def search_service(spark, tmp_path_factory):
    from nexus_event_stream_spark.io import load_table
    from nexus_event_stream_spark.serving import SearchService
    from nexus_event_stream_spark.streaming.search_index import BM25IndexStore

    store = BM25IndexStore(str(tmp_path_factory.mktemp("bm25")), n_buckets=8)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    store.apply_batch(spark, docs, 0)
    # the sf0.001 corpus draws from a ~30-word vocabulary — nearly every
    # term is above the 0.5 df cap; serve with the cap effectively open
    return SearchService(spark, store, max_df_frac=0.98)


@pytest.fixture(scope="module")
def similar_service(spark, tmp_path_factory):
    from nexus_event_stream_spark.io import load_table
    from nexus_event_stream_spark.operators.similarity import (
        ivf_train_centroids,
        pq_train_codebooks,
    )
    from nexus_event_stream_spark.serving import SimilarService
    from nexus_event_stream_spark.streaming.ann_index import PQIndexStore

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_train_centroids(corpus, n_centroids=8, iters=3)
    books = pq_train_codebooks(corpus, m=8, ksub=16, iters=3)
    store = PQIndexStore(str(tmp_path_factory.mktemp("pq")), cents, books)
    store.append(corpus, 0, "run")
    return SimilarService(spark, store, corpus)


def test_search_endpoint_order_and_envelopes(service, search_service):
    """GET /search?q= — ranked list matching a direct index query, 400
    on missing q / bad k, empty 200 for unindexed terms, 404 before the
    first committed epoch."""
    from nexus_event_stream_spark.serving import SearchService
    from nexus_event_stream_spark.streaming.search_index import BM25IndexStore

    server = serve(service, search=search_service)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        status, ctype, body = get_json(f"{base}/search?q=fast+table+scan&k=5")
        assert status == 200 and ctype == "application/json"
        assert len(body) == 5
        assert [r["rank"] for r in body] == [1, 2, 3, 4, 5]
        # matches the direct store query exactly
        want = search_service.store.query(
            search_service.spark, [(0, "fast table scan")], k=5,
            max_df_frac=0.98,
        ).collect()
        want_rows = sorted(
            (int(r.doc_id), round(float(r.score), 9), int(r.rank)) for r in want
        )
        got_rows = sorted(
            (int(r["doc_id"]), round(float(r["score"]), 9), int(r["rank"]))
            for r in body
        )
        assert got_rows == want_rows
        # unindexed vocabulary → empty 200 (the unknown-priority quirk)
        status, _, empty = get_json(f"{base}/search?q=zzzunseen+nonsense")
        assert status == 200 and empty == []
        # missing q / blank q / bad k → 400 envelope
        for bad in ("search", "search?q=++", "search?q=x&k=abc", "search?q=x&k=-1"):
            try:
                urllib.request.urlopen(f"{base}/{bad}")
                raise AssertionError("expected 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400 and "error" in json.load(e)
    finally:
        server.shutdown()

    # 404 before the first committed epoch
    import tempfile

    empty = SearchService(
        search_service.spark,
        BM25IndexStore(tempfile.mkdtemp(prefix="bm25_empty_")),
    )
    server = serve(service, search=empty)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        urllib.request.urlopen(f"{base}/search?q=anything")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404 and json.load(e) == {"error": "search index not found"}
    finally:
        server.shutdown()


def test_similar_endpoint_excludes_self_and_envelopes(service, similar_service):
    """GET /similar?id= — neighbor list from the committed IVF-PQ index,
    self excluded, ranks densified; 400 non-integer id, 404 unknown id."""
    server = serve(service, similar=similar_service)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    probe = int(similar_service.embeddings.first()["vec_id"])
    try:
        status, _, body = get_json(f"{base}/similar?id={probe}&k=5")
        assert status == 200 and len(body) == 5
        assert [r["rank"] for r in body] == [1, 2, 3, 4, 5]
        assert all(int(r["vec_id"]) != probe for r in body)
        # oracle: direct store.search with the probe's own id as the
        # query id (the store's built-in self-exclusion)
        raw = similar_service.store.search(
            similar_service.embeddings, [(probe, [
                float(x) for x in similar_service.embeddings.filter(
                    f"vec_id = {probe}"
                ).first()["embedding"]
            ])], k=5, nprobe=4,
        ).collect()
        want = [int(r.vec_id) for r in sorted(raw, key=lambda r: r.rank)]
        assert [int(r["vec_id"]) for r in body] == want
        # internal plumbing never leaks into the public envelope
        assert all("query_id" not in r for r in body)
        # bad id / bad knobs → 400
        for bad in ("similar?id=abc", "similar", f"similar?id={probe}&k=-1",
                    f"similar?id={probe}&nprobe=0"):
            try:
                urllib.request.urlopen(f"{base}/{bad}")
                raise AssertionError("expected 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
        # unknown id → 404 envelope
        try:
            urllib.request.urlopen(f"{base}/similar?id=99999999")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404 and "99999999" in json.load(e)["error"]
    finally:
        server.shutdown()


def test_retrieval_endpoints_behind_bearer_gate(
    service, search_service, similar_service
):
    server = serve(
        service, auth_token="sekret", search=search_service,
        similar=similar_service,
    )
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        for path in ("search?q=x", "similar?id=1"):
            try:
                urllib.request.urlopen(f"{base}/{path}")
                raise AssertionError("expected 401")
            except urllib.error.HTTPError as e:
                assert e.code == 401
        req = urllib.request.Request(f"{base}/search?q=fast+scan&k=2")
        req.add_header("Authorization", "Bearer sekret")
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200 and len(json.load(resp)) == 2
    finally:
        server.shutdown()


def test_cli_search_and_similar_commands(
    service, search_service, similar_service, capsys
):
    from nexus_event_stream_spark.cli import main as cli

    # unconfigured → usage error
    assert cli(service, ["search", "x"]) == 2
    assert cli(service, ["similar", "1"]) == 2
    capsys.readouterr()
    # search happy path: header + top rows, ranks dense
    assert cli(service, ["search", "fast table scan", "--top", "3"],
               search=search_service) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].split() == ["RANK", "DOC", "SCORE"]
    assert len(out) == 4 and out[1].split()[0] == "1"
    # similar happy path
    probe = int(similar_service.embeddings.first()["vec_id"])
    assert cli(service, ["similar", str(probe), "--top", "3"],
               similar=similar_service) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].split() == ["RANK", "VEC", "COSINE"]
    assert len(out) == 4 and str(probe) not in [l.split()[1] for l in out[1:]]
    # 404 analogues → exit 1
    import tempfile

    from nexus_event_stream_spark.serving import SearchService
    from nexus_event_stream_spark.streaming.search_index import BM25IndexStore

    empty = SearchService(
        search_service.spark,
        BM25IndexStore(tempfile.mkdtemp(prefix="bm25_cli_")),
    )
    assert cli(service, ["search", "x"], search=empty) == 1
    assert "search index not found" in capsys.readouterr().err
    assert cli(service, ["similar", "99999999"], similar=similar_service) == 1
    assert "not found" in capsys.readouterr().err


def test_similar_can_return_vector_zero(service, spark, tmp_path_factory):
    """Regression: a sentinel query id of 0 used to collide with corpus
    vector 0 (ivf_pq_topk's self-exclusion filters vec_id == query_id),
    silently hiding vector 0 from every neighbor list. Ids starting at
    0 are the monotonically_increasing_id default — vector 0 must be
    able to appear as someone's neighbor."""
    import numpy as np

    from nexus_event_stream_spark.operators.similarity import (
        ivf_train_centroids,
        pq_train_codebooks,
    )
    from nexus_event_stream_spark.serving import SimilarService
    from nexus_event_stream_spark.streaming.ann_index import PQIndexStore

    rng = np.random.RandomState(7)
    base = rng.randn(8)
    rows = [
        (0, list(base + 0.01 * rng.randn(8))),     # near-twin of 1
        (1, list(base)),
        (2, list(base + 0.02 * rng.randn(8))),
    ] + [(i, list(rng.randn(8))) for i in range(3, 40)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    cents = ivf_train_centroids(emb, n_centroids=4, iters=3)
    books = pq_train_codebooks(emb, m=8, ksub=8, iters=3)
    store = PQIndexStore(str(tmp_path_factory.mktemp("pq0")), cents, books)
    store.append(emb, 0, "run")
    svc = SimilarService(spark, store, emb)
    got = [int(r.vec_id) for r in svc.similar(1, k=3, nprobe=4)]
    assert 0 in got  # the collision used to drop exactly this
    assert 1 not in got
    assert all("query_id" not in r.asDict() for r in svc.similar(1, k=3))


def test_search_rows_have_no_query_id(service, search_service):
    rows = search_service.search("fast table scan", k=3)
    assert rows and all("query_id" not in r.asDict() for r in rows)


# ---------------------------------------------------------------------------
# write surface (r12 verdict #2): POST/PUT/PATCH/DELETE /signals routed
# onto the command log with the reference viewset's status/envelope
# discipline (urls.py:24-35, views.py:17-20, serializers.py:16-18)
# ---------------------------------------------------------------------------


def req(base, path, method="GET", body=None, token=None):
    """(status, parsed-json-or-None) for any method; HTTP errors too."""
    data = None if body is None else json.dumps(body).encode()
    r = urllib.request.Request(f"{base}{path}", data=data, method=method)
    if token:
        r.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(r) as resp:
            raw = resp.read()
            return resp.status, json.loads(raw) if raw else None
    except urllib.error.HTTPError as err:
        raw = err.read()
        return err.code, json.loads(raw) if raw else None


@pytest.fixture()
def write_stack(spark, tmp_path):
    from nexus_event_stream_spark.command import SignalCommands
    from nexus_event_stream_spark.sources.streams import (
        file_event_stream,
        parse_events,
    )
    from nexus_event_stream_spark.streaming.projection import (
        start_projection,
    )

    log_dir = str(tmp_path / "log")
    cmds = SignalCommands(log_dir, author="otavio")
    store = ParquetViewStore(str(tmp_path / "view"))
    svc = SignalService(spark, store)
    server = serve(svc, commands=cmds)
    base = f"http://127.0.0.1:{server.server_address[1]}"

    def project():
        q = start_projection(
            spark,
            parse_events(file_event_stream(spark, log_dir)),
            store.path,
            str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()

    yield base, project
    server.shutdown()


def test_post_create_projects_and_reads_back(write_stack):
    """The verdict done-bar: create → projection → GET /signals/{id}
    round-trips end to end through the streaming path."""
    base, project = write_stack
    status, body = req(
        base,
        "/signals",
        "POST",
        {"title": "Server Alert", "content": "CPU 95%", "priority": 3},
    )
    assert status == 201
    sid = body["id"]
    assert body["priority"] == "High" and body["author"] == "otavio"
    assert body["created_at"] == body["updated_at"]
    project()
    status, got = req(base, f"/signals/{sid}")
    assert status == 200
    assert got["title"] == "Server Alert" and got["priority"] == "High"


def test_put_patch_delete_lifecycle(write_stack):
    base, project = write_stack
    _, made = req(base, "/signals", "POST", {"title": "t", "content": "c"})
    sid = made["id"]
    assert made["priority"] == "Low"  # model default (models.py:32-35)

    # PUT: full update
    status, body = req(
        base,
        f"/signals/{sid}",
        "PUT",
        {"title": "t2", "content": "c2", "priority": 2},
    )
    assert status == 200
    assert (body["title"], body["priority"]) == ("t2", "Medium")
    assert body["updated_at"] > body["created_at"]

    # PATCH: partial — untouched fields survive
    status, body = req(base, f"/signals/{sid}", "PATCH", {"priority": 3})
    assert status == 200
    assert (body["title"], body["priority"]) == ("t2", "High")

    # DELETE: 204 empty body, then 404 envelope on a replay
    status, body = req(base, f"/signals/{sid}", "DELETE")
    assert status == 204 and body is None
    status, body = req(base, f"/signals/{sid}", "DELETE")
    assert status == 404 and body == {"error": "signal not found"}

    # the log now folds to an empty view
    project()
    status, body = req(base, f"/signals/{sid}")
    assert status == 404


def test_validation_errors_are_drf_shaped(write_stack):
    base, _ = write_stack
    status, body = req(base, "/signals", "POST", {"content": "c"})
    assert status == 400 and body == {"title": ["This field is required."]}
    status, body = req(
        base, "/signals", "POST",
        {"title": "x" * 256, "content": "c"},
    )
    assert status == 400
    assert body == {
        "title": ["Ensure this field has no more than 255 characters."]
    }
    status, body = req(
        base, "/signals", "POST", {"title": "t", "content": "c", "priority": 7}
    )
    assert status == 400 and body == {"priority": ['"7" is not a valid choice.']}
    # PUT is full validation, PATCH is partial
    _, made = req(base, "/signals", "POST", {"title": "t", "content": "c"})
    status, body = req(base, f"/signals/{made['id']}", "PUT", {"title": "t2"})
    assert status == 400 and body == {"content": ["This field is required."]}
    status, _ = req(base, f"/signals/{made['id']}", "PATCH", {"title": "t2"})
    assert status == 200
    # non-object / unparseable bodies get the repo's error envelope
    status, body = req(base, "/signals", "POST", [1, 2])
    assert status == 400 and "JSON object" in body["error"]


def test_write_404_405_and_api_v1_prefix(write_stack):
    base, _ = write_stack
    status, body = req(
        base, "/signals/ghost", "PUT", {"title": "t", "content": "c"}
    )
    assert status == 404 and body == {"error": "signal not found"}
    status, body = req(base, "/signals", "DELETE")
    assert status == 405
    status, body = req(base, "/rollups", "POST", {})
    assert status == 404
    # the reference mounts under /api/v1/ (urls.py:33) — curl replays work
    status, body = req(
        base, "/api/v1/signals/", "POST", {"title": "t", "content": "c"}
    )
    assert status == 201
    status, got = req(base, f"/api/v1/signals/{body['id']}", "PATCH",
                      {"content": "c2"})
    assert status == 200 and got["content"] == "c2"


def test_write_bearer_gate_and_read_only_501(spark, tmp_path):
    from nexus_event_stream_spark.command import SignalCommands

    store = ParquetViewStore(str(tmp_path / "view"))
    svc = SignalService(spark, store)
    cmds = SignalCommands(str(tmp_path / "log"))
    gated = serve(svc, auth_token="sekrit", commands=cmds)
    base = f"http://127.0.0.1:{gated.server_address[1]}"
    try:
        status, body = req(base, "/signals", "POST",
                           {"title": "t", "content": "c"})
        assert status == 401 and body == {"error": "authentication required"}
        status, body = req(base, "/signals", "POST",
                           {"title": "t", "content": "c"}, token="sekrit")
        assert status == 201
    finally:
        gated.shutdown()
    ro = serve(svc)  # no commands mounted: read-only deployment
    base = f"http://127.0.0.1:{ro.server_address[1]}"
    try:
        status, body = req(base, "/signals", "POST",
                           {"title": "t", "content": "c"})
        assert status == 501 and "read-only" in body["error"]
    finally:
        ro.shutdown()
