"""Self-tests of the benchmark's helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from run import error_class  # noqa: E402
from stats import beyond, percentile, supported_tail  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 95) == 95
    assert percentile(xs, 100) == 100
    assert percentile([3.0], 99) == 3.0
    assert percentile([5, 1, 4, 2, 3], 60) == 3


@pytest.mark.parametrize("n, expected", [
    (10, None),      # no percentile leaves ten samples above it
    (39, None),      # p75 of 39 has 9 beyond
    (40, 75.0),      # p75 of 40 has exactly 10 beyond
    (100, 90.0),
    (200, 95.0),
    (999, 98.0),     # p99 of 999 has only 9 beyond
    (1000, 99.0),
    (10_000, 99.9),
])
def test_supported_tail_leaves_ten_beyond(n, expected):
    p = supported_tail(n)
    assert p == expected
    if p is not None:
        assert beyond(n, p) >= 10


def test_generator_is_deterministic_per_seed():
    a, b, c = (gen.Generator(s, 6, 1500, 4000) for s in (7, 7, 8))
    assert [gen.pdf_bytes(d) for d in a.corpus] == [gen.pdf_bytes(d) for d in b.corpus]
    assert [d.text for d in a.corpus] != [d.text for d in c.corpus]
    qa, qb = a.queries(2), b.queries(2)
    assert [next(qa) for _ in range(120)] == [next(qb) for _ in range(120)]
    assert a.slice(3, 4) == b.slice(3, 4)
    names = {d.source for d in a.corpus} | {d.source for k in range(3) for d in a.slice(k, 4)}
    assert len(names) == 6 + 12  # slices never reuse a stored source name


def test_query_mix():
    qs = gen.Generator(1, 4, 1500, 4000).queries(0)
    sample = [next(qs) for _ in range(1000)]
    kinds = [q.kind for q in sample]
    assert kinds.count("empty") == 1000 // gen.EMPTY_EVERY
    assert kinds.count("exact") == 1000 // gen.EXACT_EVERY - 1000 // 100
    assert {q.top_k for q in sample} == set(gen.TOP_KS)
    assert all(1 <= len(q.text.split()) <= 40 for q in sample if q.kind == "words")
    assert all(not q.text.strip() for q in sample if q.kind == "empty")
    assert all(len(q.text) >= 100 for q in sample if q.kind == "exact")


def test_fallback_extractor_returns_generated_text():
    from articulation_vector_db_api_spark.functions.pdftext import extract_pdf_text

    g = gen.Generator(3, 12, 300, 9000)
    for doc in g.corpus:
        assert extract_pdf_text(gen.pdf_bytes(doc)) == doc.text


def test_chunk_oracle_matches_engine_chunker():
    from pyspark.sql import SparkSession

    from articulation_vector_db_api_spark.functions.chunking import chunk_documents

    texts = {f"len{n}": "ab cd " * (n // 6) + "x" * (n % 6)
             for n in (1, 799, 800, 801, 1000, 1001, 2500)}
    texts.update({d.source: d.text for d in gen.Generator(5, 4, 1500, 9000).corpus})
    spark = (SparkSession.builder.master("local[1]").appName("perfbench-test")
             .config("spark.ui.enabled", "false").getOrCreate())
    df = spark.createDataFrame(list(texts.items()), "source string, text string")
    rows = chunk_documents(df, id_col="source", text_col="text").collect()
    got: dict[str, dict[int, str]] = {}
    for r in rows:
        got.setdefault(r.source, {})[r.pos] = r.chunk_text
    for source, text in texts.items():
        n = gen.chunk_count(text)
        assert sorted(got[source]) == list(range(n))
        assert all(got[source][p] == gen.chunk_text(text, p) for p in range(n))
    assert gen.chunk_count("") == 0


def test_error_class_from_spark_message():
    body = {"detail": "Search failed: [FAILED_READ_FILE.FILE_NOT_EXIST] File x does not exist."}
    assert error_class(500, body) == "FILE_NOT_EXIST"
    assert error_class(503, {"detail": "busy"}) == "HTTP_503"
    assert error_class(None, exc=ConnectionResetError()) == "ConnectionResetError"
