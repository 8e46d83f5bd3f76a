"""EngineAPI.ingest keeps the driver-resident serving index in step with
the served chunk table: the written batch is merged into the index
instead of the table being re-read, and the next search sees it (the
reference's upsert-then-query, main.py:163-172). Every case here checks
the index against a fresh ``open_serving_index`` of the table."""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import threading
import urllib.request

import pytest
from pyspark.sql import DataFrame

from articulation_vector_db_api_spark import api as api_mod
from articulation_vector_db_api_spark.api import EngineAPI
from articulation_vector_db_api_spark.operators import search as search_mod
from articulation_vector_db_api_spark.operators.ingest import (
    build_chunk_rows,
    write_chunk_table,
)
from articulation_vector_db_api_spark.operators.search import (
    ServingIndex,
    open_serving_index,
    topk_search_indexed,
)
from articulation_vector_db_api_spark.server import ServerConfig, serve
from articulation_vector_db_api_spark.sources.readers import table_absent
from tests.conftest import SF_SMALL, assert_same_serving_index

_WORDS = ("transfer credit course degree college program student "
          "agreement semester major elective campus").split()


def _text(seed: int, n_chars: int) -> str:
    rng = random.Random(seed)
    words = []
    while sum(len(w) + 1 for w in words) < n_chars:
        words.append(rng.choice(_WORDS) + str(rng.randrange(100)))
    return " ".join(words)


def _docs(d, docs: dict[str, str]) -> str:
    """Write one ``{source}.txt`` per entry into a fresh directory."""
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for source, text in docs.items():
        with open(os.path.join(d, source + ".txt"), "w") as f:
            f.write(text)
    return str(d)


def _check(spark, api: EngineAPI, resp: dict, merged: bool = True) -> None:
    """After an ingest: the response counts the table's rows, and the
    API's index (re-warmed by a search when the ingest fell back)
    equals a fresh warm of the table."""
    table = api.chunk_table
    assert resp["ingested_count"] == spark.read.parquet(table).count()
    if merged:
        assert isinstance(api._serving, ServingIndex)
    else:
        assert api._serving is None
        api.search("transfer credit", 3)  # lazily re-warms
    assert_same_serving_index(api._serving, open_serving_index(spark, table))


@pytest.fixture
def warms(monkeypatch):
    """Counts the serving-index warms EngineAPI starts."""
    calls = []
    orig = api_mod.open_serving_index

    def counted(*a, **k):
        calls.append(a)
        return orig(*a, **k)

    monkeypatch.setattr(api_mod, "open_serving_index", counted)
    return calls


def test_ingests_keep_index_equal_to_fresh_warm(spark, tmp_path, warms):
    """Corpus, two append slices, an overwrite re-ingest of existing
    sources with new text, then numeric-looking names: after each, the
    merged index equals a fresh warm, and no ingest or search re-warms."""
    table = str(tmp_path / "chunks")
    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
    corpus = {f"doc{i}": _text(i, 300 + 700 * i) for i in range(6)}
    steps = [
        corpus,
        {f"slice_a{i}": _text(100 + i, 1500) for i in range(3)},
        {f"slice_b{i}": _text(200 + i, 2500) for i in range(2)},
        # overwrite: fewer, and more, chunks than before
        {"doc5": _text(300, 900), "doc4": _text(301, 5200),
         "doc1": _text(302, 1200), "slice_a0": _text(303, 200)},
        {"0042": _text(400, 1800), "2024": _text(401, 700)},
    ]
    for i, docs in enumerate(steps):
        resp = api.ingest(_docs(tmp_path / f"step{i}", docs), table, "*.txt")
        _check(spark, api, resp)
        hits = api.search("transfer credit course", 5)
        assert hits["total_results"] == 5
    assert warms == []
    assert {"0042", "2024"} <= set(api._serving.sources)
    assert api._serving.sources.count("doc4") == 7  # 5200 chars, stride 800
    fresh = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table).warm()
    for q, k in [("transfer credit", 5), ("campus major", 20), ("x", 1)]:
        assert api.search(q, k) == fresh.search(q, k)


def test_numeric_source_names_round_trip(spark, tmp_path):
    """Sources named like numbers stay strings through ingest, a warm
    that re-reads the table, and the HTTP /search, /stats and
    /health routes."""
    texts = {"0042": _text(1, 1500), "2024": _text(2, 600)}
    corpus = _docs(tmp_path / "docs", texts)
    table = str(tmp_path / "chunks")
    api = EngineAPI(spark=spark, data_dir=SF_SMALL)
    server = serve(api, ServerConfig(table_path=table, corpus_dir=corpus,
                                     glob="*.txt"))
    base = "http://127.0.0.1:%d" % server.server_address[1]

    def call(path: str, payload: dict | None = None) -> dict:
        req = urllib.request.Request(
            base + path, method="GET" if payload is None else "POST",
            data=None if payload is None else json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())

    try:
        assert call("/ingest", {})["pdfs_processed"] == ["0042", "2024"]
        api.warm()
        assert sorted(set(api._serving.sources)) == ["0042", "2024"]
        for source, text in texts.items():
            body = call("/search", {"query": text[:1000], "top_k": 1})
            assert body["chunks"][0]["source"] == source
            assert body["chunks"][0]["id"] == source + "_0"
            assert f"[Source: {source}]" in body["context"]
        stats = call("/stats")["stats"]
        assert sorted(stats["namespaces"]) == ["0042", "2024"]
        assert call("/health")["vector_count"] == stats["total_vector_count"]
    finally:
        server.shutdown()
    rows = topk_search_indexed(spark, table, texts["0042"][:1000], 1).collect()
    assert rows[0].source == "0042"


def test_overwrite_reingest_beside_concurrent_searches(spark, tmp_path):
    """Three threads search while two threads ingest into the served
    table, one re-ingesting existing sources with changed text, the
    other adding new ones. Every search succeeds (no FILE_NOT_EXIST
    from a warm reading partitions an overwrite is replacing), and the
    final index equals a fresh warm, which two ingests merging into the
    same base would break."""
    table = str(tmp_path / "chunks")
    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
    names = [f"doc{i}" for i in range(5)]
    api.ingest(_docs(tmp_path / "v0",
                     {n: _text(i, 2000) for i, n in enumerate(names)}),
               table, "*.txt")
    stop = threading.Event()
    errors, done = [], []

    def searcher(seed: int) -> None:
        rng = random.Random(seed)
        # the pause stands in for a client's network round trip: three
        # threads scoring back to back would starve the ingest's py4j
        # calls of the GIL
        while not stop.wait(0.005):
            try:
                q = " ".join(rng.choice(_WORDS) for _ in range(3))
                done.append(api.search(q, rng.choice((1, 5, 10)))["total_results"])
            except Exception as e:  # noqa: BLE001 - collected and asserted
                errors.append(e)

    def writer(w: int) -> None:
        try:
            for v in range(1, 3):
                docs = ({n: _text(10 * v + i, 800 + 600 * ((v + i) % 4))
                         for i, n in enumerate(names[:4])} if w == 0
                        else {f"new{v}": _text(50 + v, 1700)})
                api.ingest(_docs(tmp_path / f"w{w}v{v}", docs), table, "*.txt")
        except Exception as e:  # noqa: BLE001 - collected and asserted
            errors.append(e)

    searchers = [threading.Thread(target=searcher, args=(s,)) for s in range(3)]
    writers = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for t in searchers + writers:
            t.start()
        for t in writers:
            t.join(300)
        assert not any(t.is_alive() for t in writers)
    finally:
        stop.set()
        for t in searchers:
            t.join(30)
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in searchers)
    assert errors == []
    assert done and all(n > 0 for n in done)
    assert {"new1", "new2"} <= set(api._serving.sources)
    assert len(api._serving.ids) == spark.read.parquet(table).count()
    assert_same_serving_index(api._serving, open_serving_index(spark, table))


def test_write_outside_api_falls_back_to_rewarm(spark, tmp_path, warms):
    """A write that bypasses EngineAPI.ingest changes the table's files,
    so the next ingest drops the index instead of merging into a stale
    one, and the re-warm sees both writes."""
    table = str(tmp_path / "chunks")
    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
    api.ingest(_docs(tmp_path / "a", {"doc0": _text(0, 1500)}), table, "*.txt")
    ext = spark.createDataFrame(
        [("ext", _text(5, 1200), None)], "source string, text string, error string")
    write_chunk_table(build_chunk_rows(ext), table)
    resp = api.ingest(_docs(tmp_path / "b", {"doc1": _text(1, 900)}), table, "*.txt")
    _check(spark, api, resp, merged=False)
    assert {"doc0", "doc1", "ext"} == set(api._serving.sources)
    assert len(warms) == 1
    # the re-warm recorded the table's files: the next ingest merges
    resp = api.ingest(_docs(tmp_path / "c", {"doc2": _text(2, 900)}), table, "*.txt")
    _check(spark, api, resp)
    assert len(warms) == 1


def test_table_above_one_partition_keeps_persisted_path(
        spark, tmp_path, monkeypatch):
    """When the merged table outgrows one cached partition, the ingest
    drops the index, the next search warms a persisted DataFrame, and
    the ingest after that still unpersists and drops it."""
    monkeypatch.setattr(search_mod, "PARTITION_BYTES", 1)
    table = str(tmp_path / "chunks")
    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
    resp = api.ingest(_docs(tmp_path / "a", {"doc0": _text(0, 1500)}), table, "*.txt")
    assert api._serving is None
    assert resp["ingested_count"] == spark.read.parquet(table).count()
    assert api.search("transfer credit", 3)["total_results"] == 2
    persisted = api._serving
    assert isinstance(persisted, DataFrame) and persisted.is_cached
    listings = []  # the merge cannot serve this table: nothing lists it
    for mod in (api_mod, search_mod):
        monkeypatch.setattr(mod, "table_files",
                            lambda p, f=mod.table_files: listings.append(p) or f(p))
    resp = api.ingest(_docs(tmp_path / "b", {"doc1": _text(1, 900)}), table, "*.txt")
    assert listings == []
    assert api._serving is None and not persisted.is_cached
    assert resp["ingested_count"] == spark.read.parquet(table).count()
    hits = api.search(_text(1, 900), 1)["chunks"]
    assert hits[0]["source"] == "doc1" and hits[0]["score"] == 1.0
    api._invalidate()


def test_batch_is_collected_only_when_the_table_fits_one_partition(
        spark, tmp_path, monkeypatch):
    """The one-partition rule is checked on the table after the write,
    before any batch row reaches the driver: neither a first ingest into
    an absent table nor a large batch into a small served table collects
    the batch when the table then outgrows one partition."""
    collected = []
    orig = search_mod.collect_serving_index
    monkeypatch.setattr(search_mod, "collect_serving_index",
                        lambda chunks: collected.append(1) or orig(chunks))
    table = str(tmp_path / "chunks")
    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
    monkeypatch.setattr(search_mod, "PARTITION_BYTES", 1)
    resp = api.ingest(_docs(tmp_path / "a", {"doc0": _text(0, 1500)}), table, "*.txt")
    assert collected == [] and api._serving is None
    assert resp["ingested_count"] == spark.read.parquet(table).count()
    shutil.rmtree(table)
    monkeypatch.undo()  # default rule: the small table is merged
    monkeypatch.setattr(search_mod, "collect_serving_index",
                        lambda chunks: collected.append(1) or orig(chunks))
    resp = api.ingest(_docs(tmp_path / "b", {"doc1": _text(1, 900)}), table, "*.txt")
    _check(spark, api, resp)
    assert collected == [1]
    small = sum(size for size, _ in search_mod.table_files(table).values())
    monkeypatch.setattr(search_mod, "PARTITION_BYTES", small)
    resp = api.ingest(_docs(tmp_path / "c", {"doc2": _text(2, 20000)}), table, "*.txt")
    assert collected == [1] and api._serving is None
    assert resp["ingested_count"] == spark.read.parquet(table).count()


def test_ingest_after_table_removed_holds_only_the_batch(spark, tmp_path, warms):
    """Removing the table and ingesting (the benchmark's set-up cycle)
    leaves an index of just the new batch, with no re-warm."""
    table = str(tmp_path / "chunks")
    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
    api.ingest(_docs(tmp_path / "a", {"doc0": _text(0, 1500),
                                      "doc1": _text(1, 900)}), table, "*.txt")
    api.search("transfer credit", 3)
    shutil.rmtree(table)
    resp = api.ingest(_docs(tmp_path / "b", {"doc2": _text(2, 2500)}), table, "*.txt")
    _check(spark, api, resp)
    assert set(api._serving.sources) == {"doc2"}
    assert warms == []


def test_empty_text_document_keeps_its_old_rows(spark, tmp_path):
    """A re-ingested document with no text writes no chunk rows, so the
    partition overwrite leaves its old partition and the merge keeps
    its old rows."""
    table = str(tmp_path / "chunks")
    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
    api.ingest(_docs(tmp_path / "a", {"keep": _text(0, 1500),
                                      "doc1": _text(1, 900)}), table, "*.txt")
    before = sum(s == "keep" for s in api._serving.sources)
    resp = api.ingest(_docs(tmp_path / "b", {"keep": "", "doc2": _text(2, 900)}),
                      table, "*.txt")
    _check(spark, api, resp)
    assert sum(s == "keep" for s in api._serving.sources) == before == 2
    assert set(api._serving.sources) == {"keep", "doc1", "doc2"}


def test_uri_table_is_served_after_an_ingest(spark, tmp_path):
    """A ``file://`` table's size is unknown here, so it is served by a
    persisted DataFrame; after an ingest drops that index, the next
    search re-warms it from the table instead of answering from the
    raw documents in ``data_dir``. The HTTP tier warms such a table at
    start-up too."""
    uri = "file://" + str(tmp_path / "chunks")
    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=uri)
    api.ingest(_docs(tmp_path / "a", {"doc0": _text(0, 1500)}), uri, "*.txt")
    api.warm()
    persisted = api._serving
    assert isinstance(persisted, DataFrame) and persisted.is_cached
    api.ingest(_docs(tmp_path / "b", {"doc1": _text(1, 900)}), uri, "*.txt")
    assert api._serving is None and not persisted.is_cached
    for q, k in [("transfer credit", 5), (_text(1, 900), 1)]:
        want = [(r.id, r.source, r.score) for r in
                topk_search_indexed(spark, uri, q, k).collect()]
        got = [(c["id"], c["source"], c["score"])
               for c in api.search(q, k)["chunks"]]
        assert got == want and got
    assert want[0][1] == "doc1" and want[0][2] == 1.0
    api._invalidate()

    served = EngineAPI(spark=spark, data_dir=SF_SMALL)
    server = serve(served, ServerConfig(table_path=uri))
    try:
        assert isinstance(served._serving, DataFrame)
    finally:
        server.shutdown()
        server.server_close()
        served._invalidate()


def test_absent_uri_table_answers_from_data_dir(spark, tmp_path):
    """An absent ``file://`` table is an empty one, like an absent local
    path: /search answers from ``data_dir``'s raw documents, and the
    HTTP tier starts without warming it. Other URIs are never known to
    be absent."""
    path = tmp_path / "no-such-table"
    uri = "file://" + str(path)
    assert table_absent(uri) and table_absent(str(path))
    assert not table_absent("file://" + str(tmp_path))
    assert not table_absent("s3a://bucket/no-such-table")
    want = EngineAPI(spark=spark, data_dir=SF_SMALL).search("transfer credit", 3)
    assert want["total_results"] == 3
    for table in (uri, str(path)):
        api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
        assert api.search("transfer credit", 3) == want
        assert api._serving is None

    served = EngineAPI(spark=spark, data_dir=SF_SMALL)
    server = serve(served, ServerConfig(table_path=uri))
    try:
        assert served.chunk_table == uri and served._serving is None
        req = urllib.request.Request(
            "http://127.0.0.1:%d/search" % server.server_address[1],
            data=json.dumps({"query": "transfer credit", "top_k": 3}).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req) as r:
            assert json.loads(r.read()) == want
    finally:
        server.shutdown()
        server.server_close()
