"""per_doc_map (sources/readers.py) and its parts: the ``map_rows``
Arrow row map, the ``scan_docs`` documents scan and the ``sort_by_doc``
barrier and sort. Every query that sorts through the shared barrier
must keep the post-map barrier shape that tools/check_plans.py pins and
print its map as ``batches(...)``; the map must keep its declared
schema on an empty input and return exactly what its row function
computes.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import re
import sys

import pytest
from pyspark.sql import types as T

from articulation_vector_db_api_spark.registry import load_all
from articulation_vector_db_api_spark.sources import readers

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
from check_plans import barrier_violations  # noqa: E402
from tests.conftest import SF_SMALL as SF  # noqa: E402


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _barrier_queries():
    """Registered queries that sort through the shared barrier: the
    ``per_doc_map`` ones and the store-reading decodes that call
    ``sort_by_doc`` themselves."""
    return {
        name: q
        for name, q in sorted(load_all().items())
        if re.search(r"\b(per_doc_map|sort_by_doc)\(", inspect.getsource(q.fn))
    }


def test_every_per_doc_query_keeps_the_barrier_shape(spark):
    queries = _barrier_queries()
    store_reading = {
        n for n, q in queries.items() if "per_doc_map(" not in inspect.getsource(q.fn)
    }
    assert len(queries) - len(store_reading) == 53
    assert len(store_reading) == 4
    bad = {}
    for name, q in queries.items():
        plan = _explain(q.fn(spark, SF))
        hits = barrier_violations(plan)
        args = re.findall(
            r"^\(\d+\) MapInPandas\n.*?^Arguments: ([^\n]*)", plan, flags=re.M | re.S
        )
        if len(args) != 1 or not args[0].startswith("batches("):
            hits.append(f"MapInPandas arguments {args}")
        if hits:
            bad[name] = hits
    assert bad == {}


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("empty_sf"))
    spark.createDataFrame([], readers.SCHEMAS["documents"]).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    return sf


def test_zero_rows_keep_the_declared_schema(spark, empty_sf):
    ddl = "doc_id bigint, n_chars bigint, text_sha string"
    out = readers.per_doc_map(
        spark, empty_sf, ("doc_id", "text"), ddl, lambda d, t: (d, len(t), t)
    )
    assert out.collect() == []
    assert out.schema == T.StructType.fromDDL(ddl)
    q = load_all()["multimodal_qoi_roundtrip"]
    empty = q.fn(spark, empty_sf)
    assert empty.collect() == []
    assert empty.schema == q.fn(spark, SF).schema


def test_rows_equal_row_fn_results(spark):
    def row(doc_id, text):
        return (
            doc_id,
            len(text),
            hashlib.sha256(f"{doc_id}:{text}".encode()).hexdigest(),
        )

    out = readers.per_doc_map(
        spark,
        SF,
        ("doc_id", "text"),
        "doc_id bigint, n_chars bigint, text_sha string",
        row,
    ).collect()
    docs = {
        r.doc_id: r.text
        for r in readers.load_table(spark, SF, "documents").collect()
    }
    assert [r.doc_id for r in out] == sorted(docs)
    for r in out[:3] + out[-3:]:
        assert tuple(r) == row(r.doc_id, docs[r.doc_id])


_STORE_DDL = "doc_id bigint, es binary"


@pytest.fixture
def store_row():
    # nested, so the executors unpickle it by value
    def row(doc_id, es):
        es = bytes(es)
        return (doc_id, len(es), hashlib.sha256(es).hexdigest())

    return row


def test_map_rows_over_a_binary_frame_equals_row_fn(spark, store_row):
    rows = [(i, bytes(range(i % 7)) * (i + 1)) for i in range(40)]
    store = spark.createDataFrame(rows, _STORE_DDL).repartition(3)
    out = readers.map_rows(
        store, "doc_id bigint, n_bytes bigint, es_sha string", store_row
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted(store_row(d, es) for d, es in rows)


def test_map_rows_on_an_empty_binary_frame_keeps_the_schema(spark, store_row):
    ddl = "doc_id bigint, n_bytes bigint, es_sha string"
    empty = spark.createDataFrame([], _STORE_DDL)
    out = readers.map_rows(empty, ddl, store_row)
    assert out.collect() == []
    assert out.schema == T.StructType.fromDDL(ddl)
    assert readers.sort_by_doc(out).collect() == []
