"""The HTTP tier's event loop: malformed requests get a 400 or 501 and
a closed connection, a stalled client holds up no one, and a /search is
answered on the loop only when it starts no Spark job."""

from __future__ import annotations

import json
import socket
import threading
import time
import urllib.error
import urllib.request

import pytest
from pyspark.sql import DataFrame

from articulation_vector_db_api_spark import api as api_mod
from articulation_vector_db_api_spark.api import EngineAPI
from articulation_vector_db_api_spark.operators import ingest as ingest_mod
from articulation_vector_db_api_spark.operators import search as search_mod
from articulation_vector_db_api_spark.operators.search import ServingIndex
from articulation_vector_db_api_spark.server import LINE_LIMIT, ServerConfig, serve
from tests.conftest import SF_SMALL
from tests.test_serving_ingest import _docs, _text


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory) -> str:
    root = tmp_path_factory.mktemp("loop")
    path = str(root / "chunks")
    docs = {f"doc{i}": _text(i, 400 + 600 * i) for i in range(4)}
    EngineAPI(spark=spark, data_dir=SF_SMALL).ingest(
        _docs(root / "docs", docs), path, "*.txt")
    return path


@pytest.fixture
def served(spark, table):
    """A server over ``table`` whose API holds a driver-resident index;
    ``calls`` records the thread each ``EngineAPI.search`` ran on."""
    api = EngineAPI(spark=spark, data_dir=SF_SMALL)
    server = serve(api, ServerConfig(table_path=table, corpus_dir=table))
    calls = []
    orig = api.search

    def search(query, top_k=5):
        calls.append(threading.current_thread())
        return orig(query, top_k)

    api.search = search
    try:
        yield server, api, calls
    finally:
        server.shutdown()
        api._invalidate()


def _post(server, path: str, payload: dict, timeout: float = 60) -> tuple[int, dict]:
    req = urllib.request.Request(
        "http://127.0.0.1:%d%s" % (server.server_address[1], path),
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=timeout) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _raw(server, data: bytes) -> tuple[int, dict]:
    """Send ``data`` on a fresh connection and read the reply until the
    server closes the connection."""
    with socket.create_connection(("127.0.0.1", server.server_address[1]),
                                  timeout=10) as s:
        s.sendall(data)
        reply = b""
        while chunk := s.recv(65536):
            reply += chunk
    head, _, body = reply.partition(b"\r\n\r\n")
    return int(head.split()[1]), json.loads(body)


@pytest.mark.parametrize("data, status, detail", [
    (b"POST /search HTTP/1.0\r\nContent-Length: ten\r\n\r\n{}",
     400, "Bad Content-Length"),
    (b"POST /search HTTP/1.0\r\nContent-Length: -1\r\n\r\n",
     400, "Bad Content-Length"),
    (b"what is this\r\n\r\n", 400, "Bad request syntax"),
    (b"GET /\r\n\r\n", 400, "Bad request syntax"),
    (b"GET / HTTP/1.0\r\nX-Big: " + b"a" * LINE_LIMIT + b"\r\n\r\n",
     400, "over"),
    (b"GET / HTTP/1.0\r\n" + b"X-A: b\r\n" * 101 + b"\r\n",
     400, "More than 100 headers"),
    (b"PUT /search HTTP/1.0\r\nContent-Length: 2\r\n\r\n{}",
     501, "Unsupported method"),
])
def test_malformed_request_gets_error_reply(served, data, status, detail):
    server, api, _ = served
    code, body = _raw(server, data)
    assert code == status and detail in body["detail"]
    assert _post(server, "/search", {"query": "transfer", "top_k": 2})[0] == 200


@pytest.mark.parametrize("body, status, detail", [
    (b"\xff\xfe{", 400, "Query cannot be empty"),  # not UTF-8: no query
    (b"[" * 100000, 500, "Search failed: maximum recursion depth"),
])
def test_unparseable_body_gets_a_json_reply(served, body, status, detail):
    server, _, _ = served
    code, err = _raw(server, b"POST /search HTTP/1.0\r\nContent-Length: %d\r\n\r\n%s"
                     % (len(body), body))
    assert code == status and err["detail"].startswith(detail)


def test_stalled_client_does_not_delay_search(served):
    """A client that sends half its headers and stops holds no thread
    and no lock: a concurrent /search is answered at once."""
    server, _, _ = served
    with socket.create_connection(("127.0.0.1", server.server_address[1])) as s:
        s.sendall(b"POST /search HTTP/1.0\r\nContent-Ty")
        t0 = time.perf_counter()
        code, body = _post(server, "/search", {"query": "transfer", "top_k": 3},
                           timeout=10)
        assert code == 200 and body["total_results"] == 3
        assert time.perf_counter() - t0 < 5


def _job_ids(spark) -> list[int]:
    """Ids of the jobs outside any job group, once the status store has
    seen every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup())


def test_local_search_runs_on_the_loop_without_spark(spark, served):
    server, api, calls = served
    assert isinstance(api.local_index(), ServingIndex)
    want = api.search("transfer credit", 4)
    calls.clear()
    before = _job_ids(spark)
    for path in ("/search", "/query"):
        code, body = _post(server, path, {"query": "transfer credit", "top_k": 4})
        assert code == 200 and body == want
    assert _job_ids(spark) == before
    assert calls == [server.thread, server.thread]


def test_search_that_needs_spark_runs_off_the_loop(spark, served, monkeypatch):
    """With no index (the raw-documents path) or a persisted one, the
    search starts Spark jobs, on an executor thread."""
    server, api, calls = served
    api._invalidate()
    monkeypatch.setattr(api, "chunk_table", None)
    before = _job_ids(spark)
    code, raw = _post(server, "/search", {"query": "transfer credit", "top_k": 3})
    assert code == 200 and raw["total_results"] == 3
    assert _job_ids(spark) != before  # the probe sees these jobs

    monkeypatch.undo()
    monkeypatch.setattr(search_mod, "PARTITION_BYTES", 1)
    api.warm()
    assert isinstance(api._serving, DataFrame) and api.local_index() is None
    code, persisted = _post(server, "/search", {"query": "transfer credit", "top_k": 3})
    assert code == 200 and persisted["total_results"] == 3
    assert len(calls) == 2 and server.thread not in calls


def test_search_answers_while_an_ingest_is_held(served, monkeypatch):
    server, api, calls = served
    entered, release = threading.Event(), threading.Event()

    def held_ingest(*args, **kwargs):
        entered.set()
        assert release.wait(60)
        return {"files_processed": 0, "files_failed": 0,
                "ingested_count": 0, "sources_processed": []}

    monkeypatch.setattr(ingest_mod, "ingest_corpus", held_ingest)
    ingest = []
    t = threading.Thread(target=lambda: ingest.append(_post(server, "/ingest", {})))
    t.start()
    try:
        assert entered.wait(30)
        code, body = _post(server, "/search", {"query": "transfer", "top_k": 2},
                           timeout=10)
        assert code == 200 and body["total_results"] == 2
        assert calls == [server.thread]
    finally:
        release.set()
        t.join(60)
    assert ingest and ingest[0][0] == 200


def test_search_keeps_the_index_it_checked(served, monkeypatch):
    """An ingest that cannot merge drops the API's index; one that lands
    between the loop's check and the search must not make the loop warm
    the table (a Spark job): the search scores the index it checked."""
    server, api, calls = served
    want = api.search("transfer credit", 3)
    calls.clear()
    warms = []
    monkeypatch.setattr(api_mod, "open_serving_index",
                        lambda *a: warms.append(a) or pytest.fail("warmed"))
    orig_validate = api_mod.validate_query

    def validate_then_drop(query):
        api._invalidate()  # as a fallback ingest does
        return orig_validate(query)

    monkeypatch.setattr(api_mod, "validate_query", validate_then_drop)
    code, body = _post(server, "/search", {"query": "transfer credit", "top_k": 3})
    assert code == 200 and body == want
    assert warms == [] and calls == [server.thread]
    assert api._serving is None
