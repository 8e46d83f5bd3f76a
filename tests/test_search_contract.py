"""Search contract fixtures (FIXTURES.md B3; reference
/root/reference/main.py:314-333 semantics)."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import DataFrame

from articulation_vector_db_api_spark.operators import search as search_mod
from articulation_vector_db_api_spark.operators.search import (
    PATTERN_DIM,
    ServingIndex,
    assemble_context,
    open_serving_index,
    spark_round6,
    topk_search,
    topk_search_cached,
    topk_search_indexed,
)
from articulation_vector_db_api_spark.operators.stats import validate_query
from articulation_vector_db_api_spark.sources.readers import load_table
from tests.conftest import SF_SMALL, assert_same_serving_index

SF_MEDIUM = "/root/testdata/sf0.01"
SF_LARGE = "/root/testdata/sf0.1"


def _rows(topk):
    """Rows of a topk_search_cached result: a DataFrame over a
    persisted index, a list over a driver-resident one."""
    return topk.collect() if isinstance(topk, DataFrame) else topk


def _release(idx) -> None:
    if isinstance(idx, DataFrame):
        idx.unpersist()


def _open_persisted(spark, table, monkeypatch):
    """open_serving_index of ``table`` as a persisted DataFrame, as for
    a table above one serving partition."""
    with monkeypatch.context() as m:
        m.setattr(search_mod, "PARTITION_BYTES", 1)
        return open_serving_index(spark, table)


def _chunk_rows(spark, sf_dir):
    from articulation_vector_db_api_spark.operators.ingest import build_chunk_rows

    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "cast(doc_id as string) AS source", "text",
        "cast(null as string) AS error",
    )
    return build_chunk_rows(docs)


def test_empty_query_rejected(spark):
    for bad in ["", "   ", "\n\t"]:
        with pytest.raises(ValueError):
            topk_search(spark, SF_SMALL, bad)
    with pytest.raises(ValueError):
        validate_query(" ")


def test_total_results_le_top_k(spark):
    rows = topk_search(spark, SF_SMALL, "transfer credits", top_k=3).collect()
    assert 0 < len(rows) <= 3
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_deterministic_tie_order(spark):
    a = [r.id for r in topk_search(spark, SF_SMALL, "customer data", 5).collect()]
    b = [r.id for r in topk_search(spark, SF_SMALL, "customer data", 5).collect()]
    assert a == b


def test_context_format(spark):
    topk = topk_search(spark, SF_SMALL, "transfer credits", 2)
    ctx = assemble_context(topk, "transfer credits").first()
    assert ctx.query == "transfer credits"
    assert ctx.total_results == 2
    parts = ctx.context.split("\n\n---\n\n")
    assert len(parts) == 2
    for p in parts:
        assert p.startswith("[Source: ")  # '[Source: {source}]\n{text}', main.py:324
        assert "]\n" in p


def test_serving_index_parity_and_invalidation(spark, tmp_path):
    """r11: the pre-warmed serving path (open_serving_index +
    topk_search_cached) returns bit-identical results to the per-call
    indexed path, and an EngineAPI ingest into the table leaves the
    index equal to a fresh warm of it."""
    from articulation_vector_db_api_spark.api import EngineAPI
    from articulation_vector_db_api_spark.operators.ingest import write_chunk_table

    table = str(tmp_path / "chunks")
    write_chunk_table(_chunk_rows(spark, SF_SMALL), table)

    idx = open_serving_index(spark, table)
    try:
        a = [(r.id, r.score) for r in
             _rows(topk_search_cached(idx, "transfer credits", 5))]
        b = [(r.id, r.score) for r in
             topk_search_indexed(spark, table, "transfer credits", 5).collect()]
        assert a == b and len(a) == 5
        with pytest.raises(ValueError):
            topk_search_cached(idx, "  ")
    finally:
        _release(idx)

    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
    resp = api.search("transfer credits", 3)
    assert [(c["id"], c["score"]) for c in resp["chunks"]] == a[:3]
    assert api._serving is not None  # lazily warmed
    # re-ingesting the serving table merges the batch into the index
    corpus = tmp_path / "docs"
    corpus.mkdir()
    (corpus / "fresh.txt").write_text("entirely new corpus text " * 120)
    api.ingest(str(corpus), table, glob="*.txt")
    assert "fresh" in api._serving.sources
    assert_same_serving_index(api._serving, open_serving_index(spark, table))
    resp2 = api.search("entirely new corpus", 3)
    assert resp2["total_results"] > 0
    assert api._serving is not None
    # the index holds the upserted partition
    assert "fresh" in api._serving.sources
    api._invalidate()


def _queries(index: ServingIndex, n_random: int, n_exact: int, seed: int):
    """Random 1-40-word queries over the corpus vocabulary, plus the
    exact text of some stored chunks (each must score 1.0 first)."""
    rng = random.Random(seed)
    vocab = sorted({w for t in index.texts[:200] for w in t.split()})
    rand = [" ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
            for _ in range(n_random)]
    exact = rng.sample(range(len(index.ids)), n_exact)
    return rand, [(index.texts[i], index.ids[i]) for i in exact]


@pytest.mark.parametrize("sf_dir", [SF_MEDIUM, SF_LARGE])
def test_in_process_index_matches_persisted_path(
        spark, tmp_path, monkeypatch, sf_dir):
    """The driver-resident index returns the same rows (id, source,
    text, score), in the same order, as the persisted-DataFrame path
    and as topk_search_indexed over the stored table, for every top_k,
    including more than the row count. The table is written
    unpartitioned: one file per source would make partition discovery,
    not scoring, the cost of this test."""
    table = str(tmp_path / "chunks")
    _chunk_rows(spark, sf_dir).write.parquet(table)
    local = open_serving_index(spark, table)
    cached = _open_persisted(spark, table, monkeypatch)
    try:
        assert isinstance(local, ServingIndex)
        assert isinstance(cached, DataFrame) and cached.is_cached
        n = len(local.ids)
        rand, exact = _queries(local, n_random=8, n_exact=3, seed=7)
        for q in rand + [t for t, _ in exact]:
            for k in (1, 5, 10, 20, n + 1):
                a = [tuple(r) for r in topk_search_cached(local, q, k)]
                b = [tuple(r) for r in topk_search_cached(cached, q, k).collect()]
                c = [tuple(r) for r in
                     topk_search_indexed(spark, table, q, k).collect()]
                assert a == b == c, (q[:40], k)
                assert len(a) == min(k, n)
        for text, cid in exact:
            rows = topk_search_cached(local, text, 20)
            assert rows[0].score == 1.0
            assert cid in {r.id for r in rows if r.score == 1.0}
    finally:
        cached.unpersist()


def test_spark_round6_matches_spark_sql(spark):
    """In-process scores round like Spark SQL's round(x, 6): HALF_UP on
    the shortest decimal, which Python's round does not do on three of
    the five named half-way doubles. Also checked on half-way points
    and their neighbours one ulp away."""
    named = [0.1234565, 5e-07, 0.5000005, 0.9999995, -0.3333335]
    assert [round(x, 6) == spark_round6(x) for x in named] == [
        False, False, False, True, True]
    rng = random.Random(6)
    vals = list(named) + [-1e-7, 0.0, 1.0, -1.0]
    for _ in range(2000):
        x = (rng.randrange(-10**6, 10**6) + 0.5) / 1e6
        vals += [x, math.nextafter(x, 2.0), math.nextafter(x, -2.0)]
    df = spark.createDataFrame(list(enumerate(vals)), "i long, x double")
    want = [r.s for r in df.selectExpr("i", "round(x, 6) AS s").orderBy("i").collect()]
    got = [spark_round6(x) for x in vals]
    assert [repr(g) for g in got] == [repr(w) for w in want]
    assert want[:3] == [0.123457, 1e-06, 0.500001]


def _left_fold_dots(patterns: np.ndarray, qv: list[float]) -> np.ndarray:
    """The reference fold, functions/vector.py:dot per column: a left
    fold from 0.0, one dimension at a time."""
    acc = np.zeros(patterns.shape[1])
    for d in range(patterns.shape[0]):
        acc = acc + patterns[d] * qv[d]
    return acc


@pytest.mark.parametrize(
    "n", [0, 1, 2, 499, 501, 820, 2 * search_mod._FOLD_COLUMNS + 3])
def test_pattern_dots_bitwise_equal_left_fold(n):
    """The in-process fold returns the left fold's doubles bit for bit,
    for one row, for each side of numpy's ~500-element threshold, and
    across more than one block of columns. Some products are zeros of
    either sign; one column's products are all ``-0.0``, whose sum the
    fold from 0.0 makes ``0.0``."""
    rng = np.random.default_rng(n)
    patterns = rng.standard_normal((PATTERN_DIM, n))
    qv = rng.standard_normal(PATTERN_DIM).tolist()
    qv[3], qv[4] = 0.0, -0.0
    if n >= 3:
        patterns[:, -1] = np.where(np.signbit(qv), 0.0, -0.0)
        patterns[:, -2] = 0.0
        patterns[7, -3] = -0.0
        prods = patterns[:, -1] * np.asarray(qv)
        assert np.all(prods == 0.0) and np.all(np.signbit(prods))
    real_qv, _ = search_mod.query_vector_literals("transfer credits", PATTERN_DIM)
    for q in (qv, real_qv):
        got = search_mod._pattern_dots(patterns, q)
        want = _left_fold_dots(patterns, q)
        assert got.dtype == want.dtype == np.float64 and got.shape == (n,)
        assert np.array_equal(got.view(np.int64), want.view(np.int64))


@pytest.mark.parametrize("n", [1, 2, 4096, 4097, 8193])
def test_pattern_dots_block_widths_equal_python_fold(n):
    """Whatever width the last block of columns has, one column
    included (numpy would sum it pairwise), each dot is the Python left
    fold from 0.0 bit for bit, and an all-zero column against a query
    whose every component is negative sums its ``-0.0`` products to
    ``0.0``, not ``-0.0``."""
    rng = np.random.default_rng(n)
    # magnitudes spread over 16 decades, so the order of adds shows
    patterns = rng.standard_normal((PATTERN_DIM, n)) * 10.0 ** rng.integers(
        -8, 8, (PATTERN_DIM, n))
    patterns[:, 0] = 0.0
    mixed = rng.standard_normal(PATTERN_DIM).tolist()
    negative = [-abs(v) - 1e-3 for v in mixed]
    for q in (mixed, negative):
        got = search_mod._pattern_dots(patterns, q)
        want = []
        for col in patterns.T.tolist():
            acc = 0.0
            for p, x in zip(col, q):
                acc += p * x
            want.append(acc)
        assert got.tobytes() == np.array(want).tobytes()
    assert got[0] == 0.0 and not np.signbit(got[0])


def test_search_orders_rounded_score_ties_by_id(spark, tmp_path):
    """Two rows whose raw scores differ but round to the same 6-dp score
    come back ``(score DESC, id ASC)`` from EngineAPI.search, over the
    driver-resident index and over the persisted DataFrame alike, though
    the top-k itself orders them by raw score."""
    from articulation_vector_db_api_spark.api import EngineAPI

    q = "transfer credits"
    qv, _ = search_mod.query_vector_literals(q, PATTERN_DIM)
    near = list(qv)
    d = max(range(PATTERN_DIM), key=lambda i: abs(qv[i]))
    near[d] *= 1 + 1e-4  # cosine about 1 - 1e-10: rounds to 1.0
    far = [-x for x in qv[:16]] + qv[16:]
    chunks = spark.createDataFrame(
        [("b", "s1", "same", qv), ("a", "s2", "near", near),
         ("c", "s3", "far", far)],
        "id string, source string, text string, embedding array<double>",
    )
    local = search_mod.collect_serving_index(chunks)
    persisted = search_mod._serving_projection(chunks).persist()
    try:
        resps = []
        for serving in (local, persisted):
            top = [(r.id, r.score) for r in _rows(topk_search_cached(serving, q, 3))]
            assert top[:2] == [("b", 1.0), ("a", 1.0)]  # raw b > raw a
            api = EngineAPI(spark=spark, data_dir=SF_SMALL,
                            chunk_table=str(tmp_path / "unused"))
            api._serving = serving
            resps.append(api.search(q, 3))
        assert resps[0] == resps[1]
        assert [(c["id"], c["score"]) for c in resps[0]["chunks"][:2]] == [
            ("a", 1.0), ("b", 1.0)]
        assert resps[0]["chunks"][2]["id"] == "c"
        assert resps[0]["context"].startswith("[Source: s2]\nnear\n\n---\n\n")
    finally:
        persisted.unpersist()


@pytest.fixture(scope="module")
def small_table(spark, tmp_path_factory) -> str:
    """The SF_SMALL chunk table as ingest writes it (one directory per
    source); the tests that use it only read it."""
    from articulation_vector_db_api_spark.operators.ingest import write_chunk_table

    table = str(tmp_path_factory.mktemp("serving") / "chunks")
    write_chunk_table(_chunk_rows(spark, SF_SMALL), table)
    return table


def test_serving_index_fallbacks(spark, small_table, monkeypatch):
    """Above one partition, or when the table's size is unknown (a URI,
    not a local directory), open_serving_index keeps the persisted
    DataFrame, and it serves the same rows as the in-process index."""
    table = small_table
    local = open_serving_index(spark, table)
    assert isinstance(local, ServingIndex)
    for idx in (_open_persisted(spark, table, monkeypatch),
                open_serving_index(spark, "file://" + table)):
        try:
            assert isinstance(idx, DataFrame) and idx.is_cached
            for q, k in [("transfer credits", 5), ("customer data", 1),
                         ("data", len(local.ids) + 2)]:
                a = [tuple(r) for r in topk_search_cached(local, q, k)]
                assert a == [tuple(r) for r in topk_search_cached(idx, q, k).collect()]
        finally:
            idx.unpersist()
    assert topk_search_cached(local, "data", 0) == []
    with pytest.raises(ValueError):
        topk_search_cached(local, "data", -1)


def test_in_process_search_starts_no_spark_job(spark, small_table, monkeypatch):
    """A warmed EngineAPI over a one-partition table answers /search
    without a Spark job, with the same response as over the persisted
    index."""
    from articulation_vector_db_api_spark.api import EngineAPI

    table = small_table
    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table).warm()
    assert isinstance(api._serving, ServingIndex)
    spark_api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
    spark_api._serving = _open_persisted(spark, table, monkeypatch)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "in-process-search-probe"
    sc.setJobGroup(group, "zero-job check")
    try:
        before = tracker.getJobIdsForGroup(group)
        resp = api.search("transfer credits", 5)
        assert tracker.getJobIdsForGroup(group) == before
        # the probe does see this thread's jobs
        spark.range(1).count()
        assert len(tracker.getJobIdsForGroup(group)) > len(before)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert resp["total_results"] == 5
    for q, k in [("transfer credits", 5), ("customer data", 10), ("x", 1)]:
        assert api.search(q, k) == spark_api.search(q, k)
    spark_api._invalidate()
    api._invalidate()
    assert api._serving is None


def test_mmr_arbitrary_k(spark):
    """mmr_rerank generalizes to any k: 8 distinct picks, pick 1 equals
    plain top-1 (no penalty yet), every later pick's relevance is <= the
    pool max, and the pick column is 1..8 in order."""
    from articulation_vector_db_api_spark.operators.search import mmr_rerank

    rows = mmr_rerank(spark, SF_SMALL, "transfer credits", k=8, pool=40).collect()
    assert [r.pick for r in rows] == list(range(1, 9))
    assert len({r.id for r in rows}) == 8
    top1 = topk_search(spark, SF_SMALL, "transfer credits", 1).first()
    assert rows[0].id == top1.id
    assert all(r.score <= rows[0].score + 1e-9 for r in rows)


def test_mmr_k3_matches_oracle_shape(spark):
    """The k=3 loop must reproduce the unrolled-3 pick sequence."""
    from articulation_vector_db_api_spark.operators.search import mmr_rerank

    rows = mmr_rerank(spark, SF_SMALL, "transfer credits", k=3, pool=20).collect()
    assert [r.pick for r in rows] == [1, 2, 3]
    assert len({r.id for r in rows}) == 3


def _naive_rrf(rows, k):
    """Reference fusion: true global row_numbers over every row, rrf
    rounded to 6 places, rounded-score-then-id ordering."""
    by_vec = sorted(rows, key=lambda r: (-r[2], r[0]))
    by_kw = sorted(rows, key=lambda r: (-r[3], r[0]))
    rv = {r[0]: i + 1 for i, r in enumerate(by_vec)}
    rk = {r[0]: i + 1 for i, r in enumerate(by_kw)}
    fused = [
        (r[0], r[1], r[3], rv[r[0]], rk[r[0]],
         round(1.0 / (60 + rv[r[0]]) + 1.0 / (60 + rk[r[0]]), 6))
        for r in rows
    ]
    fused.sort(key=lambda x: (-x[5], x[0]))
    return fused[:k]


def _rrf_rows(n, skew):
    """Synthetic (id, source, raw, kw_hits): ids z-padded so string and
    insert order agree; vec score decreasing in i; kw_hits engineered so
    some rows rank top-kw while sitting far past k' in the vec order."""
    rows = []
    for i in range(n):
        rid = f"c{i:05d}"
        raw = 1.0 - i * 1e-3
        kw = skew(i)
        rows.append((rid, f"s{i % 7}", raw, kw))
    return rows


def test_rrf_fuse_exact_refinement_path(spark):
    """Adversarial case for rrf_fuse_topk: the best keyword rows sit at
    the BOTTOM of the vector order (vec rank ≈ 300 > k'=128) yet tie
    with the best vector rows on rounded rrf, so they can only enter
    the top-5 — with an exact reported vec rank — via the refinement
    pass."""
    from articulation_vector_db_api_spark.operators.search import rrf_fuse_topk

    rows = []
    for i in range(300):  # vec order = ascending i throughout
        if i < 250:
            rows.append((f"c{i:05d}", f"s{i % 7}", 1.0 - i * 1e-3, i))
        else:
            rows.append((f"c{i:05d}", f"s{i % 7}", -1.0 - i * 1e-3, 1000 + i))
    kwdf = spark.createDataFrame(
        rows, "id string, source string, raw double, kw_hits long"
    )
    got = [tuple(r) for r in rrf_fuse_topk(spark, kwdf, 5, shards=8).collect()]
    assert got == _naive_rrf(rows, 5)
    # the winning rows really did need refinement: their reported vec
    # rank exceeds k', and the rounded-rrf/id tie order held exactly
    assert [g[0] for g in got] == ["c00000", "c00299", "c00001", "c00298", "c00002"]
    assert got[1][3] == 300 and got[3][3] == 299  # exact refined ranks


def test_rrf_fuse_matches_naive_fusion_shapes(spark):
    """rrf_fuse_topk == naive global fusion across tie-heavy, tiny, and
    interleaved inputs (including corpora smaller than k')."""
    from articulation_vector_db_api_spark.operators.search import rrf_fuse_topk

    shapes = [
        _rrf_rows(40, lambda i: 0),                      # all-ties kw, < k'
        _rrf_rows(200, lambda i: (200 - i) // 10),       # aligned, banded ties
        _rrf_rows(350, lambda i: (i * 37) % 11),         # interleaved mod kw
        [("only", "s", 0.5, 3)],                         # single row
    ]
    for rows in shapes:
        kwdf = spark.createDataFrame(
            rows, "id string, source string, raw double, kw_hits long"
        )
        got = [tuple(r) for r in rrf_fuse_topk(spark, kwdf, 5, shards=8).collect()]
        assert got == _naive_rrf(rows, 5), rows[:3]


def test_rrf_fuse_rejects_shallow_k_prime(spark):
    from articulation_vector_db_api_spark.operators.search import rrf_fuse_topk

    kwdf = spark.createDataFrame(
        [("a", "s", 1.0, 1)], "id string, source string, raw double, kw_hits long"
    )
    with pytest.raises(ValueError):
        rrf_fuse_topk(spark, kwdf, 40, k_prime=64)
