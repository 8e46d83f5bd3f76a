"""Core suite: the reference's own operator surface (SURVEY §2.1).

Every query here reproduces a reference behavior byte-exactly
(/root/reference/main.py citations inline) and carries a DuckDB oracle
twin built from the same expression builders, so Spark and the oracle
compute the identical IEEE arithmetic.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.chunking import chunk_documents, chunk_sql_duckdb
from ..functions.embedding import embedding_sql_duckdb, hash_embedding_from_hex
from ..functions.vector import dot_sql_duckdb
from ..operators.search import (
    assemble_context,
    build_chunk_index,
    query_vector_literals,
    rrf_fuse_topk,
    score_chunks,
    topk_search,
)
from ..registry import register
from ..sources.readers import load_table, per_doc_map, spread_input

FLAGSHIP_QUERY = "transfer credits"  # the reference's own smoke query, test_api.sh:50-56
FLAGSHIP_K = 5  # default top_k, main.py:89

_CHUNKS_SQL = chunk_sql_duckdb(extra_cols="source,")


def _scored_sql(query: str) -> str:
    """DuckDB: chunk → embed → cosine score against the query vector.

    The query vector and its norm are inlined as literals generated by
    the SAME Python code the Spark plan uses
    (operators/search.py:query_vector_literals) — bit-identical on both
    engines."""
    pat_dim = 32  # 32-periodic shortcut, see operators/search.py:topk_search
    qv, qnorm = query_vector_literals(query, pat_dim)
    qlit = "[" + ", ".join(repr(v) for v in qv) + "]"
    return f"""
    WITH chunks AS ({_CHUNKS_SQL}),
    emb AS (
        SELECT chunk_id AS id, source, chunk_text AS text,
               {embedding_sql_duckdb("chunk_text", pat_dim)} AS pattern
        FROM chunks
    ),
    qv AS (SELECT {qlit}::DOUBLE[] AS qvec),
    scored AS (
        SELECT id, source, text,
               {dot_sql_duckdb("pattern", "qvec")}
                   / (sqrt({dot_sql_duckdb("pattern", "pattern")}) * {qnorm!r})
                   AS raw
        FROM emb, qv
        WHERE length(text) > 0
    )
    """


def _topk_sql(query: str, k: int) -> str:
    return (
        _scored_sql(query)
        + f"""
    SELECT id, source, text, round(raw, 6) AS score
    FROM scored
    ORDER BY raw DESC, id ASC
    LIMIT {k}
    """
    )


@register(
    "flagship_search",
    oracle=_topk_sql(FLAGSHIP_QUERY, FLAGSHIP_K),
    headline=True,
    tags=("core", "vector"),
)
def flagship_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/search read path (O8+O9, main.py:176-216): chunk → hash-embed →
    exact cosine top-5 with total order (score DESC, id ASC)."""
    return topk_search(spark, sf_dir, FLAGSHIP_QUERY, FLAGSHIP_K)


@register(
    "search_context",
    oracle=_scored_sql(FLAGSHIP_QUERY)
    + f"""
    , topk AS (
        SELECT id, source, text, round(raw, 6) AS score
        FROM scored ORDER BY raw DESC, id ASC LIMIT {FLAGSHIP_K}
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rnk
        FROM topk
    )
    SELECT '{FLAGSHIP_QUERY}' AS query,
           count(*) AS total_results,
           string_agg('[Source: ' || source || ']' || chr(10) || text,
                      e'\\n\\n---\\n\\n' ORDER BY rnk) AS context
    FROM ranked
    """,
    tags=("core", "vector"),
)
def search_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context assembly (O10, main.py:324): ordered string agg
    '[Source: {source}]\\n{text}' joined by '\\n\\n---\\n\\n'."""
    topk = topk_search(spark, sf_dir, FLAGSHIP_QUERY, FLAGSHIP_K)
    return assemble_context(topk, FLAGSHIP_QUERY)


@register(
    "search_topk_per_source",
    oracle=_scored_sql(FLAGSHIP_QUERY)
    + """
    , ranked AS (
        SELECT id, source, round(raw, 6) AS score,
               row_number() OVER (PARTITION BY source ORDER BY raw DESC, id) AS rn
        FROM scored
    )
    SELECT id, source, score, rn FROM ranked WHERE rn <= 2
    ORDER BY source, rn
    """,
    tags=("core", "vector"),
)
def search_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Namespace-scoped search (the per-source analog of Pinecone
    namespaces, main.py:351): top-2 chunks per source in ONE pass via a
    ranking window — no per-namespace query loop."""
    scored = score_chunks(spark, sf_dir, FLAGSHIP_QUERY)
    w = Window.partitionBy("source").orderBy(F.desc("raw"), "id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("id", "source", F.round("raw", 6).alias("score"), "rn")
        .orderBy("source", "rn")
    )


BATCH_QUERIES = (
    "transfer credits",
    "articulation agreement",
    "customer data",
    "stream window join",
    "vector search",
)


def _batch_search_sql() -> str:
    rows = []
    for qid, q in enumerate(BATCH_QUERIES):
        qv, qnorm = query_vector_literals(q, 32)
        qlit = "[" + ", ".join(repr(v) for v in qv) + "]"
        rows.append(f"({qid}, {qlit}::DOUBLE[], {qnorm!r})")
    values = ",\n               ".join(rows)
    return f"""
    WITH chunks AS ({_CHUNKS_SQL}),
    emb AS (
        SELECT chunk_id AS id, chunk_text,
               {embedding_sql_duckdb("chunk_text", 32)} AS pattern
        FROM chunks WHERE length(chunk_text) > 0
    ),
    qs(qid, qvec, qnorm) AS (
        VALUES {values}
    ),
    scored AS (
        SELECT qid, id,
               {dot_sql_duckdb("pattern", "qvec")}
                 / (sqrt({dot_sql_duckdb("pattern", "pattern")}) * qnorm) AS raw
        FROM emb CROSS JOIN qs
    ),
    ranked AS (
        SELECT qid, id, raw,
               row_number() OVER (PARTITION BY qid ORDER BY raw DESC, id) AS rn
        FROM scored
    )
    SELECT qid, id, round(raw, 6) AS score, rn
    FROM ranked WHERE rn <= 3
    ORDER BY qid, rn
    """


@register(
    "search_batch_queries",
    oracle=_batch_search_sql(),
    headline=True,
    tags=("core", "vector"),
)
def search_batch_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch search: N queries answered in ONE corpus scan (broadcast
    the query-vector set, rank per query id). The reference serves one
    query per Pinecone round-trip; the engine's per-query marginal cost
    is a 32-float dot product — this is why batch eval/retrieval jobs
    belong on Spark."""
    from ..functions.vector import dot, l2_norm
    from ..operators.search import chunk_patterns

    qrows = []
    for qid, q in enumerate(BATCH_QUERIES):
        qv, qnorm = query_vector_literals(q, 32)
        qrows.append((qid, qv, qnorm))
    qdf = spark.createDataFrame(qrows, "qid int, qvec array<double>, qnorm double")

    # pattern norm hoisted ABOVE the query fan-out: computed once per
    # chunk, not once per (chunk x query) pair
    chunks = chunk_patterns(spark, sf_dir).withColumn(
        "pnorm", l2_norm(F.col("pattern"))
    )
    scored = chunks.join(F.broadcast(qdf)).select(
        "qid",
        "id",
        (
            dot(F.col("pattern"), F.col("qvec"))
            / (F.col("pnorm") * F.col("qnorm"))
        ).alias("raw"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("raw"), "id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "id", F.round("raw", 6).alias("score"), "rn")
        .orderBy("qid", "rn")
    )


@register(
    "search_scoped_source",
    oracle=_scored_sql(FLAGSHIP_QUERY)
    + """
    SELECT id, source, round(raw, 6) AS score
    FROM scored
    WHERE source = 'src0'
    ORDER BY raw DESC, id ASC
    LIMIT 3
    """,
    tags=("core", "vector"),
)
def search_scoped_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-scoped search (Pinecone namespace filter analog): the
    source predicate sits UNDER the scoring projection, so against the
    ingested chunk table (partitioned by source,
    operators/ingest.py:write_chunk_table) this plan prunes to one
    partition and reads 1/N of the corpus before any scoring."""
    scored = score_chunks(spark, sf_dir, FLAGSHIP_QUERY)
    return (
        scored.filter(F.col("source") == "src0")
        .select("id", "source", F.round("raw", 6).alias("score"), "raw")
        .orderBy(F.desc("raw"), F.asc("id"))
        .limit(3)
        .drop("raw")
    )


@register(
    "chunk_documents",
    oracle=f"""
    SELECT doc_id, source, pos, chunk_id, chunk_text,
           length(chunk_text) AS chunk_len
    FROM ({_CHUNKS_SQL})
    ORDER BY doc_id, pos
    """,
    headline=True,
    tags=("core", "chunking"),
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunker (O3, main.py:118-126): size 1000, stride
    800, short tail chunk, empty text → 0 chunks; ordinal parity feeds
    chunk ids (main.py:163)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs).select(
        "doc_id",
        "source",
        "pos",
        "chunk_id",
        "chunk_text",
        F.length("chunk_text").alias("chunk_len"),
    ).orderBy("doc_id", "pos")


@register(
    "hash_embedding_vectors",
    oracle=f"""
    SELECT doc_id,
           array_to_string(list_transform({embedding_sql_duckdb("text")},
               v -> printf('%.9f', v)), ',') AS embedding
    FROM documents
    WHERE doc_id % 50 = 0 AND length(text) > 0
    ORDER BY doc_id
    """,
    tags=("core", "embedding"),
)
def hash_embedding_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sha256 embedding (O4, main.py:129-147): full
    1024-dim vectors for a doc sample — byte-exact parity including the
    32-periodicity and the 256-point value grid. The vector is emitted
    as a fixed-format (%.9f) comma string because the driver comparator
    canonicalizes through a pandas sort that cannot hash list cells;
    the per-element formatting keeps every double comparable exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter((F.col("doc_id") % 50 == 0) & (F.length("text") > 0))
        .withColumn("_hex", F.sha2(F.col("text"), 256))
        .select(
            "doc_id",
            F.concat_ws(
                ",",
                F.transform(
                    hash_embedding_from_hex(F.col("_hex")),
                    lambda v: F.format_string("%.9f", v),
                ),
            ).alias("embedding"),
        )
        .orderBy("doc_id")
    )


@register(
    "upsert_last_write_wins",
    oracle="""
    WITH ingest AS (
        SELECT doc_id, text, source, 1 AS ingest_batch FROM documents
        UNION ALL
        SELECT doc_id, text || ' [v2]', source, 2 FROM documents WHERE source = 'src0'
    ),
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ingest_batch DESC) AS rn
        FROM ingest
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars
    FROM latest WHERE rn = 1
    GROUP BY source
    ORDER BY source
    """,
    tags=("core", "sink"),
)
def upsert_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert semantics (O6, main.py:163,172): re-ingesting a
    source replaces its rows (last-write-wins on id). Modeled as
    union + row_number window — the same plan the partitioned-overwrite
    writer in operators/ingest.py executes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    v1 = docs.withColumn("ingest_batch", F.lit(1))
    v2 = (
        docs.filter(F.col("source") == "src0")
        .withColumn("text", F.concat(F.col("text"), F.lit(" [v2]")))
        .withColumn("ingest_batch", F.lit(2))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("ingest_batch"))
    latest = v1.unionByName(v2).withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    return (
        latest.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text").cast("long")).alias("total_chars"),
        )
        .orderBy("source")
    )


@register(
    "index_stats_by_source",
    oracle=f"""
    SELECT source,
           count(*) AS n_chunks,
           count(DISTINCT doc_id) AS n_docs
    FROM ({_CHUNKS_SQL})
    GROUP BY source
    ORDER BY source
    """,
    tags=("core", "stats"),
)
def index_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index stats (O12, main.py:340-360): vector counts per namespace
    analog — chunk and doc counts per source."""
    idx = build_chunk_index(spark, sf_dir)
    return (
        idx.withColumn("doc_id", F.split(F.col("id"), "_").getItem(0).cast("long"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("source")
    )


def _hybrid_rrf_sql(query: str, k: int) -> str:
    terms = query.lower().split()
    kw_terms = " + ".join(
        f"(length(lower(text)) - length(replace(lower(text), '{t}', '')))"
        f" / {len(t)}"
        for t in terms
    )
    return (
        _scored_sql(query)
        + f""",
    kw AS (
        SELECT id, source, text, raw, CAST({kw_terms} AS BIGINT) AS kw_hits
        FROM scored
    ),
    ranked AS (
        SELECT id, source, kw_hits,
               row_number() OVER (ORDER BY raw DESC, id) AS rank_vec,
               row_number() OVER (ORDER BY kw_hits DESC, id) AS rank_kw
        FROM kw
    )
    SELECT id, source, kw_hits, rank_vec, rank_kw,
           round(1.0 / (60 + rank_vec) + 1.0 / (60 + rank_kw), 6) AS rrf
    FROM ranked
    ORDER BY rrf DESC, id
    LIMIT {k}
    """
    )


@register(
    "search_hybrid_rrf",
    oracle=_hybrid_rrf_sql(FLAGSHIP_QUERY, FLAGSHIP_K),
    tags=("core", "vector", "hybrid"),
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: dense (cosine) and sparse (keyword-hit)
    rankings fused by Reciprocal Rank Fusion, rrf = Σ 1/(60+rank_i) —
    the standard score-scale-free fusion (the reference exposes only
    the dense path, main.py:176-216; production vector APIs pair it
    with keyword recall exactly like this).

    The oracle is the naive double global row_number; the engine runs
    the 100 TB-safe equivalent (operators/search.rrf_fuse_topk):
    per-shard top-k′ pruning over a text-free projection (one narrow
    shuffle, shard-keyed windows), bounded driver merge, and a
    provably-bounded refinement pass for candidates ranked high in one
    dimension but past k′ in the other — exact global ranks, no
    partition-less window over the corpus anywhere."""
    kwdf = hybrid_rrf_scored(spark, sf_dir)
    return rrf_fuse_topk(spark, kwdf, FLAGSHIP_K)


def hybrid_rrf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The narrow (id, source, raw, kw_hits) relation both RRF ranks
    share: one scan, one chunk+score pass (spread across all cores —
    the prune pass evaluates every row), text projected away before
    anything shuffles."""
    scored = score_chunks(spark, sf_dir, FLAGSHIP_QUERY, spread=True)
    kw_hits = None
    for t in FLAGSHIP_QUERY.lower().split():
        hits = (
            F.length(F.lower(F.col("text")))
            - F.length(F.replace(F.lower(F.col("text")), F.lit(t)))
        ) / len(t)
        kw_hits = hits if kw_hits is None else kw_hits + hits
    return scored.withColumn("kw_hits", kw_hits.cast("long")).select(
        "id", "source", "raw", "kw_hits"
    )


MMR_LAMBDA = 0.7


def _mmr_sql(query: str, k: int = 3, pool: int = 20) -> str:
    """Exact unrolled MMR oracle for arbitrary k: one CTE per greedy
    pick, pick i ordering the remaining pool by
    ``λ·raw − (1−λ)·max_{j<i} cos(c, s_j)``. Generated, so k=8 stays as
    readable as the original hand-written k=3."""
    cos = lambda a, b: (  # noqa: E731
        f"({dot_sql_duckdb(a, b)} / "
        f"(sqrt({dot_sql_duckdb(a, a)}) * sqrt({dot_sql_duckdb(b, b)})))"
    )
    parts = [
        _scored_sql(query)
        + f""",
    cands AS MATERIALIZED (
        -- MATERIALIZED: DuckDB inlines plain CTEs per reference, and
        -- the k pick-CTEs reference cands ~k(k+1)/2 times — without
        -- this the whole corpus chunk+embed+score subtree re-executes
        -- each time (k=8 oracle measured 25.6 s -> ~2 s)
        SELECT s.id, s.raw, e.pattern
        FROM scored s JOIN emb e ON s.id = e.id
        ORDER BY s.raw DESC, s.id LIMIT {pool}
    ),
    s1 AS (SELECT * FROM cands ORDER BY raw DESC, id LIMIT 1)"""
    ]
    for i in range(2, k + 1):
        froms = ", ".join(["cands c"] + [f"s{j}" for j in range(1, i)])
        notin = ", ".join(f"s{j}.id" for j in range(1, i))
        sims = [cos("c.pattern", f"s{j}.pattern") for j in range(1, i)]
        worst = sims[0] if len(sims) == 1 else (
            "greatest(" + ",\n                          ".join(sims) + ")"
        )
        parts.append(f""",
    s{i} AS (
        SELECT c.* FROM {froms}
        WHERE c.id NOT IN ({notin})
        ORDER BY {MMR_LAMBDA} * c.raw
                 - {1 - MMR_LAMBDA} * {worst} DESC,
                 c.id
        LIMIT 1
    )""")
    selects = ["\n    SELECT 1 AS pick, id, round(raw, 6) AS score FROM s1"]
    selects += [
        f"\n    UNION ALL SELECT {i}, id, round(raw, 6) FROM s{i}"
        for i in range(2, k + 1)
    ]
    parts.extend(selects)
    parts.append("\n    ORDER BY pick\n    ")
    return "".join(parts)


@register(
    "search_mmr_diversified",
    oracle=_mmr_sql(FLAGSHIP_QUERY),
    tags=("core", "vector", "diversify"),
)
def search_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (λ=0.7, 3 picks over a
    top-20 candidate pool) via the parameterized driver loop in
    operators/search.py:mmr_rerank — greedy selection is inherently
    sequential in k, but every round runs against the cached pool only;
    the corpus-sized scan happens once. The 3-pick unrolled SQL oracle
    pins the semantics exactly."""
    from ..operators.search import mmr_rerank

    return mmr_rerank(spark, sf_dir, FLAGSHIP_QUERY, k=3, pool=20, lam=MMR_LAMBDA)


@register(
    "search_mmr_diversified_k8",
    oracle=_mmr_sql(FLAGSHIP_QUERY, k=8, pool=40),
    headline=True,  # r4: one-job greedy — representative of the rerank path
    tags=("core", "vector", "diversify"),
)
def search_mmr_diversified_k8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same MMR driver loop at k=8 over a top-40 pool — the
    arbitrary-k generalization, pinned by the generated 8-level
    unrolled SQL twin (one CTE per greedy pick); pytest additionally
    asserts the invariants (8 distinct picks, pick 1 = plain top-1,
    scores within pool range)."""
    from ..operators.search import mmr_rerank

    return mmr_rerank(spark, sf_dir, FLAGSHIP_QUERY, k=8, pool=40, lam=MMR_LAMBDA)


# -- driver-visible twins of the test-only reference operators ---------
#
# O2 (extraction), O7 (fault isolation) and O13 (health) were pytest-only
# in round 1; these queries surface them to the driver's correctness
# gate. The corpus is a static in-repo fixture (tests/fixtures/
# driver_corpus) with one file per extraction outcome, so the oracle is
# a precomputed VALUES table.

import os as _os

# __file__ = <repo>/articulation_vector_db_api_spark/suites/core.py;
# three dirnames up = <repo>.
_FIXTURE_CORPUS = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "driver_corpus",
)


@register(
    "ingest_extract_status",
    oracle="""
    SELECT * FROM (VALUES
        ('alpha',  1450,              FALSE),
        ('beta',   66,                FALSE),
        ('binary', CAST(NULL AS INT), TRUE),
        ('blank',  3,                 FALSE),
        ('broken', CAST(NULL AS INT), TRUE)
    ) AS t(source, n_chars, has_error)
    ORDER BY source
    """,
    tags=("core", "ingest"),
)
def ingest_extract_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction operator (O2, main.py:106-115) as a driver-checkable
    query: binaryFile scan → Arrow-batched extract over a fixture corpus
    covering every outcome (text ok, whitespace-only, undecodable
    binary, unparseable PDF). has_error is a boolean — the message text
    varies with the pypdf install state, the outcome does not.

    The fixture also contains a zero-byte ``empty.txt`` that does NOT
    appear here: Spark's binaryFile source prunes zero-length files at
    listing time. The reference's glob loop would read it, extract ""
    and drop it at the empty-text filter — the two engines converge on
    the same ingested set, just at different stages."""
    from ..operators.ingest import extract_text
    from ..sources.readers import load_binary_corpus

    corpus = load_binary_corpus(spark, _FIXTURE_CORPUS, "*")
    return (
        extract_text(corpus)
        .select(
            "source",
            F.length("text").cast("int").alias("n_chars"),
            F.col("error").isNotNull().alias("has_error"),
        )
        .orderBy("source")
    )


@register(
    "ingest_fault_isolation",
    oracle="""
    SELECT 5 AS n_files, 3 AS n_ok, 2 AS n_failed, 3 AS n_chunkable
    """,
    tags=("core", "ingest"),
)
def ingest_fault_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file fault isolation (O7, main.py:285-302): one bad file
    never poisons the batch. The invariant the reference enforces —
    every file is either processed or individually failed — projected
    as counts over the fixture corpus (n_ok + n_failed = n_files)."""
    from ..operators.ingest import extract_text
    from ..sources.readers import load_binary_corpus

    corpus = load_binary_corpus(spark, _FIXTURE_CORPUS, "*")
    ok = F.col("error").isNull()
    return extract_text(corpus).agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sum(ok.cast("int")).cast("int").alias("n_ok"),
        F.sum((~ok).cast("int")).cast("int").alias("n_failed"),
        F.sum((ok & (F.length("text") > 0)).cast("int")).cast("int").alias("n_chunkable"),
    )


@register(
    "health_probe",
    oracle="""
    SELECT 'existing' AS probe, 'healthy' AS status,
           count(*) AS vector_count FROM documents
    UNION ALL
    SELECT 'missing', 'degraded', CAST(-1 AS BIGINT)
    ORDER BY probe
    """,
    tags=("core", "serving"),
)
def health_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health endpoint (O13, main.py:228-253) as a query: probe an
    existing table (→ healthy, with its row count) and a missing path
    (→ degraded, never raises). The dict-returning operator runs
    driver-side; the probe results land in a DataFrame so the driver
    can hash them."""
    from ..operators.stats import health

    ok = health(spark, _os.path.join(sf_dir, "documents.parquet"))
    bad = health(spark, _os.path.join(sf_dir, "definitely_missing_table.parquet"))
    rows = [
        ("existing", ok["status"], int(ok.get("vector_count", -1))),
        ("missing", bad["status"], int(bad.get("vector_count") or -1)),
    ]
    return spark.createDataFrame(
        rows, "probe string, status string, vector_count long"
    ).orderBy("probe")


def _pluggable_hash_sql(query: str, k: int) -> str:
    """Oracle for the pluggable-embedder path CONFIGURED with the
    reference HashEmbedder (main.py:129-147): unlike flagship_search's
    32-periodicity rewrite, the generic slot scores the FULL stored
    1024-dim vector, so the twin folds all 1024 dims in the same
    left-to-right IEEE order."""
    qv, qnorm = query_vector_literals(query)  # full 1024-dim
    qlit = "[" + ", ".join(repr(v) for v in qv) + "]"
    return f"""
    WITH chunks AS ({_CHUNKS_SQL}),
    emb AS (
        SELECT chunk_id AS id, source, chunk_text AS text,
               {embedding_sql_duckdb("chunk_text")} AS v
        FROM chunks
    ),
    qv AS (SELECT {qlit}::DOUBLE[] AS qvec),
    scored AS (
        SELECT id, source, text,
               {dot_sql_duckdb("v", "qvec")}
                   / (sqrt({dot_sql_duckdb("v", "v")}) * {qnorm!r}) AS raw
        FROM emb, qv
        WHERE length(text) > 0
    )
    SELECT id, source, text, round(raw, 6) AS score
    FROM scored
    ORDER BY round(raw, 6) DESC, id ASC
    LIMIT {k}
    """


@register(
    "search_pluggable_embedder",
    oracle=_pluggable_hash_sql(FLAGSHIP_QUERY, FLAGSHIP_K),
    tags=("core", "vector", "model"),
)
def search_pluggable_embedder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-model SLOT (north star: MLlib/batch inference for
    indexing): the same generic chunk→index→top-k path for ANY embedder
    (operators/embed_model.py). Driver-checked here in its HashEmbedder
    configuration — the reference sha256 scheme, fully SQL-expressible,
    so the slot's plumbing (generic index build, full-dim scoring, no
    periodicity shortcut) gets an exact oracle. The neural-model
    stand-in (NgramProjectionEmbedder, an Arrow-batched pandas_udf
    whose `_embed_batch` is where a sentence-transformer drops in) runs
    through the SAME builders and is pinned by pytest (determinism,
    unit norms, slot equivalence)."""
    from ..operators.embed_model import HashEmbedder, build_index_with, topk_search_with

    emb = HashEmbedder()
    index = build_index_with(emb, spark, sf_dir)
    return topk_search_with(emb, index, FLAGSHIP_QUERY, FLAGSHIP_K)


@register(
    "ingest_incremental_embed",
    oracle=f"""
    WITH incoming_docs AS (
        SELECT doc_id,
               CASE WHEN source = 'src0' THEN text || ' [v2]' ELSE text END
                   AS text,
               source
        FROM documents
    ),
    existing AS (
        SELECT chunk_id, sha256(chunk_text) AS sha
        FROM ({chunk_sql_duckdb()})
    ),
    incoming AS (
        SELECT c.doc_id, c.source, c.chunk_id,
               sha256(c.chunk_text) AS sha
        FROM ({chunk_sql_duckdb('incoming_docs', extra_cols='source,')}) c
    ),
    marked AS (
        SELECT i.source,
               CASE WHEN e.chunk_id IS NULL THEN 1 ELSE 0 END AS changed
        FROM incoming i
        LEFT JOIN existing e
          ON i.chunk_id = e.chunk_id AND i.sha = e.sha
    )
    SELECT source,
           count(*) AS n_chunks,
           CAST(sum(changed) AS BIGINT) AS n_reembedded,
           CAST(sum(1 - changed) AS BIGINT) AS n_reused
    FROM marked GROUP BY source ORDER BY source
    """,
    headline=True,  # r5: bench-tracked — the delta re-embed path
    tags=("core", "ingest", "curation"),
)
def ingest_incremental_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-embedding: when a corpus is re-ingested, only the
    chunks whose (chunk_id, content-sha) changed are embedded — the
    unchanged ones reuse their stored vectors. Embedding is THE cost of
    production ingest (a real model burns GPU-seconds per chunk), so
    the delta join, not the embedder, must decide what runs: here src0
    is modified (every chunk changes) while every other source matches
    the standing index byte-for-byte and is skipped.

    Scale shape: both sides reduce to (chunk_id, 16-byte sha) before
    the join — text and vectors never shuffle; the join is
    hash-partitioned on chunk_id; the embed stage (not materialized in
    this counting query) applies ONLY under the changed=1 branch, so
    its cost tracks the delta, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    incoming_docs = docs.withColumn(
        "text",
        F.when(
            F.col("source") == "src0", F.concat(F.col("text"), F.lit(" [v2]"))
        ).otherwise(F.col("text")),
    )
    existing = chunk_documents(docs).select(
        "chunk_id", F.sha2("chunk_text", 256).alias("sha")
    )
    incoming = chunk_documents(incoming_docs).select(
        "source", "chunk_id", F.sha2("chunk_text", 256).alias("sha")
    )
    marked = (
        incoming.alias("i")
        .join(
            existing.alias("e"),
            (F.col("i.chunk_id") == F.col("e.chunk_id"))
            & (F.col("i.sha") == F.col("e.sha")),
            "left",
        )
        .select(
            "source",
            F.when(F.col("e.chunk_id").isNull(), 1).otherwise(0).alias("changed"),
        )
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("changed").cast("bigint").alias("n_reembedded"),
            F.sum(1 - F.col("changed")).cast("bigint").alias("n_reused"),
        )
        .orderBy("source")
    )


_FIXTURE_FORMATS = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "formats",
)
_CSV_PATH = _os.path.join(_FIXTURE_FORMATS, "events_sample.csv")
_JSONL_PATH = _os.path.join(_FIXTURE_FORMATS, "users.jsonl")


@register(
    "scan_csv_typed",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value,
           max(event_id) AS max_id
    FROM read_csv('{_CSV_PATH}', header=true,
                  columns={{'event_id': 'BIGINT', 'event_type': 'VARCHAR',
                            'value': 'DOUBLE'}})
    WHERE value > 1.0
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("core", "source"),
)
def scan_csv_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with an EXPLICIT schema (never inferSchema at scale:
    inference is a second full read of 100 TB) → filter → aggregate.
    The oracle reads the same file through DuckDB's CSV reader, so the
    whole format path — parsing, typing, nulls — is cross-checked, not
    just the aggregation."""
    df = spark.read.csv(
        _CSV_PATH,
        header=True,
        schema="event_id long, event_type string, value double",
    )
    return (
        df.filter(F.col("value") > 1.0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("total_value"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


@register(
    "scan_jsonlines_nested",
    oracle=f"""
    SELECT user_id, name,
           prefs.lang AS pref_lang,
           prefs.n AS pref_n
    FROM read_json('{_JSONL_PATH}', format='newline_delimited',
                   columns={{'user_id': 'BIGINT', 'name': 'VARCHAR',
                             'prefs': 'STRUCT(lang VARCHAR, n BIGINT)'}})
    WHERE prefs.lang = 'en'
    ORDER BY user_id
    """,
    tags=("core", "source"),
)
def scan_jsonlines_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with a nested struct schema, filtered on a
    nested field. Schema-on-read with an explicit schema keeps the scan
    single-pass and lets Catalyst prune to just the referenced fields;
    the DuckDB oracle parses the same file independently."""
    df = spark.read.json(
        _JSONL_PATH,
        schema="user_id long, name string, prefs struct<lang:string,n:long>",
    )
    return (
        df.filter(F.col("prefs.lang") == "en")
        .select(
            "user_id",
            "name",
            F.col("prefs.lang").alias("pref_lang"),
            F.col("prefs.n").alias("pref_n"),
        )
        .orderBy("user_id")
    )


@register(
    "scan_partitioned_pruned",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents WHERE lang = 'en'
    ORDER BY doc_id
    """,
    tags=("core", "sources"),
)
def scan_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan over hive-layout storage: the corpus is
    written partitionBy(lang) once (fixture-scoped, rebuilt only when
    missing), and the lang='en' predicate resolves at PLANNING time to
    a directory listing — the scan's PartitionFilters prune every other
    language's files without opening them. At 100 TB partition-by-
    low-cardinality-key is the first storage decision; this query is
    the proof the predicate actually reaches the layout (plan contract
    pins PartitionFilters)."""
    import os

    from .similarity import _app_scoped_store

    store = _app_scoped_store(spark, "docs_by_lang", sf_dir)
    marker = os.path.join(store, "_STORE_COMPLETE")
    if not os.path.exists(marker):
        load_table(spark, sf_dir, "documents").write.mode("overwrite").partitionBy(
            "lang"
        ).parquet(os.path.join(store, "docs"))
        with open(marker, "w"):
            pass
    return (
        spark.read.parquet(os.path.join(store, "docs"))
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


from ..functions.hashing import sha_hash32_sql as _sha_sql
from ..functions.numeric import dsum as _dsum
from ..functions.numeric import dsum_sql as _dsum_sql


@register(
    "scan_orc_roundtrip",
    headline=True,
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           {_dsum_sql("o_totalprice")} AS revenue,
           min(CAST(o_orderdate AS DATE)) AS first_date,
           max(CAST(o_orderdate AS DATE)) AS last_date,
           max(o_orderpriority) AS max_priority
    FROM orders
    WHERE o_totalprice > 1000.0
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("core", "source", "sink"),
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source + sink round-trip: orders is written once to ORC
    (zlib, Spark's built-in writer), read back through the vectorized
    ORC reader, then filtered and aggregated. The oracle computes the
    same aggregate over the original parquet fixture, so any value the
    ORC writer or reader mangles — decimal widening, date epoch,
    string collation, null handling — hash-fails rather than passing
    silently. Covers the one built-in columnar format the engine's
    source/sink matrix (SURVEY §2.2 scans/sources) did not yet
    exercise; the reference itself has a single hardcoded source
    (Pinecone, /root/reference/main.py:21), so every format here is
    engine surface, not parity.

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): the ORC
    copy is built once per app under an app-scoped path, gated by an
    all-or-nothing completion marker.

    Scale: the o_totalprice predicate reaches the ORC scan as a
    pushed-down search argument (ORC keeps per-stripe min/max, so
    non-qualifying stripes never decompress — the plan contract pins
    PushedFilters), and the aggregate is the standard partial+final
    hash shape. ORC vs parquet is an interchange decision, not a plan
    decision: both scans feed identical downstream plans."""
    import os

    from .similarity import _build_once

    store = _build_once(
        spark,
        "orders_orc",
        sf_dir,
        lambda p: load_table(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .orc(os.path.join(p, "orders_orc")),
    )
    return (
        spark.read.orc(os.path.join(store, "orders_orc"))
        .filter(F.col("o_totalprice") > 1000.0)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
            F.min(F.col("o_orderdate").cast("date")).alias("first_date"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
            F.max("o_orderpriority").alias("max_priority"),
        )
        .orderBy("o_orderstatus")
    )

@register(
    "scan_xml_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           min(n_name) AS first_name,
           max(n_name) AS last_name
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    tags=("core", "source", "sink"),
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink roundtrip — Spark 4's BUILT-IN XML data source
    (no external package): the nation dim written as row-tagged XML,
    read back with an explicit schema, and aggregated; values must
    hash-match the same aggregate over the original parquet, so
    element serialization, type coercion, and null handling all have
    to survive the text roundtrip. Part of the engine's source matrix
    (parquet/csv/json/text/orc/gzip/binaryFile/XML + the custom
    Python data sources — see scan_avro_roundtrip and
    scan_arrow_ipc_roundtrip for the formats Spark itself does not
    carry here).

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): the XML
    copy is built once per app under an app-scoped path behind the
    all-or-nothing completion marker.

    Scale: XML is a row-interchange format — the scan parallelizes by
    file; the schema is declared (no sampling-based inference job),
    and the aggregate is the standard partial+final shape. At 100 TB
    XML is an INGEST format only: one pass to columnar, never the
    storage layer."""
    import os

    from .similarity import _build_once

    store = _build_once(
        spark,
        "nation_xml",
        sf_dir,
        lambda p: load_table(spark, sf_dir, "nation")
        .repartition(2)
        .write.mode("overwrite")
        .option("rowTag", "nation")
        .format("xml")
        .save(os.path.join(p, "nation_xml")),
    )
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(schema)
        .load(os.path.join(store, "nation_xml"))
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.max("n_name").alias("last_name"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "matview_join_incremental",
    oracle=f"""
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           {_dsum_sql("o_totalprice")} AS revenue,
           ({_dsum_sql("o_totalprice")} / count(o_totalprice)) AS avg_price,
           max(o_orderdate) AS last_date
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    tags=("core", "maintenance"),
)
def matview_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (delta rules) — the
    step beyond operators/matview.py's single-table rollups: the view
    is per-nation order stats over orders ⋈ customer, and BOTH sides
    grow across three epochs. Each epoch publishes only its join
    DELTA's partials (classic insert-only IVM):

        epoch 1:  A1 ⋈ B1           (initial fact and dim slices)
        epoch 2:  ΔA ⋈ B1           (new orders against the old dim)
        epoch 3:  (A1 ∪ ΔA) ⋈ ΔB    (all orders against the new dim)

    The deltas are disjoint and union to the full join, so the merged
    partial log must hash-match a from-scratch recompute — the oracle
    IS that recompute. Partial sums accumulate in exact decimal
    (operators/matview.py:rollup_partial), so the merged view is
    bit-identical no matter how ingestion sliced the epochs — refresh
    order is unobservable, which is the whole IVM correctness bar.

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): the three
    epoch versions publish once per app behind the completion marker;
    tests/test_matview.py pins the time-travel view ("as of epoch 2"
    excludes ΔB's contribution).

    Scale: each refresh scans ITS DELTA only — cost tracks the batch,
    never the standing corpus — and the delta join is an ordinary
    keyed equi-join (broadcast or shuffle per AQE). Reads merge
    |keys| × |epochs| partial rows. This is exactly how a 100 TB
    enriched-fact dashboard stays fresh without re-joining history."""
    import json as _json
    import os as _os

    from ..operators.matview import read_rollup, refresh_rollup
    from .similarity import _build_once

    keys = ["c_nationkey"]
    specs = [
        {"name": "n_orders", "kind": "count"},
        {"name": "revenue", "kind": "sum", "col": "o_totalprice"},
        {"name": "avg_price", "kind": "avg", "col": "o_totalprice"},
        {"name": "last_date", "kind": "max", "col": "o_orderdate"},
    ]

    def _build(store: str) -> dict:
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        a1 = orders.filter(F.col("o_orderkey") % 2 == 0)
        da = orders.filter(F.col("o_orderkey") % 2 == 1)
        b1 = cust.filter(F.col("c_custkey") % 2 == 0)
        db = cust.filter(F.col("c_custkey") % 2 == 1)
        on = F.col("o_custkey") == F.col("c_custkey")
        deltas = [
            a1.join(b1, on),
            da.join(b1, on),
            a1.unionByName(da).join(db, on),
        ]
        versions = [
            refresh_rollup(d, store, keys, specs, batch_id=i)
            for i, d in enumerate(deltas)
        ]
        return {"versions": versions}

    store = _build_once(spark, "joinview", sf_dir, _build)
    with open(_os.path.join(store, "_STORE_COMPLETE")) as f:
        _json.load(f)  # builder facts (versions) — used by the tests
    return read_rollup(spark, store, keys, specs).orderBy("c_nationkey")


@register(
    "scan_avro_roundtrip",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS balance_cents,
           min(s_name) AS first_name
    FROM supplier
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
    tags=("core", "source", "sink"),
)
def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source roundtrip WITHOUT the external spark-avro module:
    the supplier dim written as a spec-conformant Avro Object
    Container File by the pure-Python writer (sources/avro.py —
    zigzag varints, deflate blocks, sync markers) and scanned back
    through the ``avro_py`` Python Data Source (sources/avro_pyds.py),
    which plans ONE InputPartition per container block — the Avro
    analog of a parquet row-group split. Values must hash-match the
    same aggregate over the original parquet, so varint signs, union
    branches, UTF-8, and block boundaries all have to survive.

    Money crosses the text format as integer CENTS (exact at any
    order), the same discipline every decimal oracle in the suite
    uses.

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): the Avro
    copy builds once per app behind the completion marker.

    Scale: block size bounds task granularity exactly like parquet row
    groups; the scan parallelizes per block, rows cross to the JVM as
    Arrow batches, and everything downstream is codegen. Avro at
    100 TB is an interchange/ingest format — one pass to columnar."""
    import json as _json
    import os

    from ..sources.avro import write_container
    from ..sources.avro_pyds import register_avro_source
    from .similarity import _build_once

    def _build(p: str) -> None:
        os.makedirs(p, exist_ok=True)
        schema = _json.dumps(
            {
                "type": "record",
                "name": "supplier",
                "fields": [
                    {"name": "s_suppkey", "type": "long"},
                    {"name": "s_name", "type": ["null", "string"]},
                    {"name": "s_nationkey", "type": "long"},
                    {"name": "balance_cents", "type": "long"},
                ],
            }
        )
        # toLocalIterator keeps driver memory bounded by one partition;
        # the fixture dim is small, and at scale this builder IS the
        # external system that produced the Avro landing files
        rows = (
            (
                int(r.s_suppkey),
                r.s_name,
                int(r.s_nationkey),
                int(r.balance_cents),
            )
            for r in load_table(spark, sf_dir, "supplier")
            .select(
                "s_suppkey",
                "s_name",
                "s_nationkey",
                F.round(F.col("s_acctbal") * 100)
                .cast("long")
                .alias("balance_cents"),
            )
            .toLocalIterator()
        )
        write_container(
            os.path.join(p, "supplier.avro"),
            schema,
            rows,
            records_per_block=400,
        )

    store = _build_once(spark, "supplier_avro", sf_dir, _build)
    register_avro_source(spark)
    return (
        spark.read.format("avro_py")
        .option("path", store)
        .load()
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("balance_cents").cast("long").alias("balance_cents"),
            F.min("s_name").alias("first_name"),
        )
        .orderBy("s_nationkey")
    )


@register(
    "scan_arrow_ipc_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS balance_cents,
           min(c_name) AS first_name
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("core", "source", "sink"),
)
def scan_arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather v2) source roundtrip — the interchange format
    the Python data ecosystem itself speaks (pandas/polars/DuckDB all
    emit it), which Spark has no built-in file reader for. The customer
    dim is written once as a multi-batch ``.arrow`` file and scanned
    back through the ``arrow_ipc`` Python Data Source
    (sources/arrow_pyds.py), which plans one InputPartition PER RECORD
    BATCH from the file footer — the Arrow-file analog of a parquet
    row-group split — and yields each batch zero-parse off a memory
    map (no per-row Python decode exists on the path). Values must
    hash-match the same aggregate over the original parquet, so batch
    boundaries, null bitmaps, UTF-8, and int widths all have to
    survive the roundtrip. Money crosses as integer CENTS (exact at
    any order), the suite-wide decimal-oracle discipline.

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): the Arrow
    copy builds once per app behind the completion marker. The builder
    materializes the small dim on the driver (``toArrow``) because at
    scale the builder IS the external system that produced the Arrow
    landing files — the engine side is the scan.

    Scale: batch size bounds task granularity exactly like parquet row
    groups; the scan parallelizes per batch, batches cross to the JVM
    on Spark's Arrow-native PyDS channel, and the aggregate is the
    standard partial+final hash shape. Arrow IPC at 100 TB is an
    ingest/interchange format — one pass to columnar storage."""
    import os

    from ..sources.arrow_pyds import register_arrow_source
    from .similarity import _build_once

    def _build(p: str) -> None:
        import pyarrow.ipc as ipc

        os.makedirs(p, exist_ok=True)
        tbl = (
            load_table(spark, sf_dir, "customer")
            .select(
                "c_custkey",
                "c_name",
                "c_nationkey",
                "c_mktsegment",
                F.round(F.col("c_acctbal") * 100)
                .cast("long")
                .alias("balance_cents"),
            )
            .toArrow()
        )
        with ipc.new_file(os.path.join(p, "customer.arrow"), tbl.schema) as w:
            for b in tbl.to_batches(max_chunksize=400):
                w.write_batch(b)

    store = _build_once(spark, "customer_arrow", sf_dir, _build)
    register_arrow_source(spark)
    return (
        spark.read.format("arrow_ipc")
        .option("path", store)
        .load()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.countDistinct("c_nationkey").cast("long").alias("n_nations"),
            F.sum("balance_cents").cast("long").alias("balance_cents"),
            F.min("c_name").alias("first_name"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "scan_avro_nested_roundtrip",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(sum(doc_id % 7) AS BIGINT) AS mod_total,
           CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END) AS BIGINT)
               AS tags_total,
           min(source) AS first_source
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("core", "source", "sink"),
)
def scan_avro_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED Avro scan — the shape Kafka-archived event logs actually
    have. The documents table is written once as an Avro Object
    Container File whose rows carry a nested record (``meta{lang
    enum, source string}``), a variable-length ``array<string>`` tag
    list, and a ``map<string,long>`` property bag; the pure-Python
    codec (sources/avro.py) encodes all of it from the public spec —
    recursive type trees, array/map block encoding with 0 terminators,
    enum indices — and the ``avro_py`` source maps the tree to Spark
    STRUCT/ARRAY/MAP types (sources/avro_pyds.py:_ddl_type). Values
    must hash-match aggregates over the original parquet, so union
    branches inside records, map key UTF-8, enum symbol order, and
    array-block boundaries all have to survive.

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): builds
    once per app behind the completion marker.

    Scale: identical to scan_avro_roundtrip — per-block partitions,
    Arrow batches into the JVM, partial+final hash aggregate. Nested
    decode cost is executor-side and linear in bytes."""
    import json as _json
    import os

    from ..sources.avro import write_container
    from ..sources.avro_pyds import register_avro_source
    from .similarity import _build_once

    def _build(p: str) -> None:
        os.makedirs(p, exist_ok=True)
        schema = _json.dumps(
            {
                "type": "record",
                "name": "doc",
                "fields": [
                    {"name": "doc_id", "type": "long"},
                    {
                        "name": "meta",
                        "type": {
                            "type": "record",
                            "name": "meta",
                            "fields": [
                                {"name": "lang", "type": {
                                    "type": "enum", "name": "lang_e",
                                    "symbols": ["de", "en", "es",
                                                "fr", "zh"]}},
                                {"name": "source", "type": "string"},
                            ],
                        },
                    },
                    {"name": "tags", "type": {
                        "type": "array", "items": "string"}},
                    {"name": "props", "type": {
                        "type": "map", "values": "long"}},
                ],
            }
        )
        def write_shard(rows) -> None:
            from pyspark import TaskContext

            from articulation_vector_db_api_spark.sources.avro import (
                write_container as _wc,
            )

            recs = [
                (
                    int(r.doc_id),
                    (r.lang, r.source),
                    (
                        [r.lang, r.source, str(r.doc_id)]
                        if r.doc_id % 3 == 0
                        else [r.lang]
                    ),
                    {"n_chars": int(r.n_chars), "mod": int(r.doc_id) % 7},
                )
                for r in rows
            ]
            if recs:
                pid = TaskContext.get().partitionId()
                _wc(
                    os.path.join(p, f"documents-{pid:05d}.avro"),
                    schema,
                    recs,
                    records_per_block=400,
                )

        # DISTRIBUTED shard write (same discipline as the WARC
        # builder): the r8 first cut serialized the corpus through
        # the driver via toLocalIterator and measured 6.4x at 10x;
        # per-partition container shards parallelize with the corpus
        # and the avro_py reader accepts the directory as-is.
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "source", "n_chars")
            .transform(spread_input, sf_dir, "documents")
            .foreachPartition(write_shard)
        )

    store = _build_once(spark, "documents_avro_nested", sf_dir, _build)
    register_avro_source(spark)
    return (
        spark.read.format("avro_py")
        .option("path", store)
        .load()
        .groupBy(F.col("meta.lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.element_at("props", F.lit("n_chars")))
            .cast("long")
            .alias("chars_total"),
            F.sum(F.element_at("props", F.lit("mod")))
            .cast("long")
            .alias("mod_total"),
            F.sum(F.size("tags")).cast("long").alias("tags_total"),
            F.min(F.col("meta.source")).alias("first_source"),
        )
        .orderBy("lang")
    )


@register(
    "scan_avro_union_roundtrip",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN doc_id % 3 = 1 THEN source END)
               AS BIGINT) AS n_strings,
           CAST(count(CASE WHEN doc_id % 3 = 2 THEN n_chars END)
               AS BIGINT) AS n_longs,
           CAST(sum(CASE WHEN doc_id % 3 = 2 THEN n_chars END)
               AS BIGINT) AS long_total,
           min(CASE WHEN doc_id % 3 = 1 THEN source END) AS first_string,
           CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars
                         ELSE doc_id * 1000000 END) AS BIGINT)
               AS metric_total,
           CAST(sum(2 * n_chars + doc_id) AS BIGINT) AS span_total
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("core", "source", "sink"),
)
def scan_avro_union_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-BRANCH Avro unions + named-type references — the two
    schema shapes Kafka-archived logs actually use that the r8 reader
    still gated (VERDICT r8 missing #1). The documents table is
    written once as an Avro container whose rows carry:

    - ``val: ["null","string","long"]`` — decoded with spark-avro's
      public mapping to ``STRUCT<member0: STRING, member1: BIGINT>``
      (null branch -> NULL row), branch chosen per row by doc_id%3;
    - ``metric: ["int","long"]`` — int/long PROMOTE to one BIGINT
      column; the writer picks the minimal branch (int when the value
      fits 32 bits), so both branch encodings appear in the container;
    - ``span``, an inline record definition, and ``span2``, a
      NAMED-TYPE REFERENCE to it ("Span"), resolved through the
      schema document's definition table (sources/avro.py:_resolve_name)
      with the spec's namespace inheritance.

    Aggregates over member counts, promoted sums and both record
    fields must hash-match the original parquet, so branch indices,
    member slotting, promotion width and reference resolution all
    have to survive the PyDS Arrow crossing.

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): builds
    once per app behind the completion marker.

    Scale: identical to scan_avro_roundtrip — per-block partitions,
    executor-side decode, partial+final hash aggregate."""
    import json as _json
    import os

    from ..sources.avro import write_container
    from ..sources.avro_pyds import register_avro_source
    from .similarity import _build_once

    def _build(p: str) -> None:
        os.makedirs(p, exist_ok=True)
        schema = _json.dumps(
            {
                "type": "record",
                "name": "doc",
                "namespace": "engine",
                "fields": [
                    {"name": "doc_id", "type": "long"},
                    {"name": "lang", "type": "string"},
                    {"name": "val", "type": ["null", "string", "long"]},
                    {"name": "metric", "type": ["int", "long"]},
                    {"name": "span", "type": {
                        "type": "record", "name": "Span", "fields": [
                            {"name": "a", "type": "long"},
                            {"name": "b", "type": "long"}]}},
                    {"name": "span2", "type": "Span"},
                ],
            }
        )

        def write_shard(rows) -> None:
            from pyspark import TaskContext

            from articulation_vector_db_api_spark.sources.avro import (
                write_container as _wc,
            )

            recs = []
            for r in rows:
                d = int(r.doc_id)
                n = int(r.n_chars)
                if d % 3 == 0:
                    val = None
                elif d % 3 == 1:
                    val = (r.source, None)
                else:
                    val = (None, n)
                metric = n if d % 2 == 0 else d * 1000000
                recs.append((d, r.lang, val, metric, (d, n), (n, d)))
            if recs:
                pid = TaskContext.get().partitionId()
                _wc(
                    os.path.join(p, f"documents-{pid:05d}.avro"),
                    schema,
                    recs,
                    records_per_block=400,
                )

        # distributed shard write — see scan_avro_nested_roundtrip
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "source", "n_chars")
            .transform(spread_input, sf_dir, "documents")
            .foreachPartition(write_shard)
        )

    store = _build_once(spark, "documents_avro_union", sf_dir, _build)
    register_avro_source(spark)
    return (
        spark.read.format("avro_py")
        .option("path", store)
        .load()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("val.member0").cast("long").alias("n_strings"),
            F.count("val.member1").cast("long").alias("n_longs"),
            F.sum("val.member1").cast("long").alias("long_total"),
            F.min("val.member0").alias("first_string"),
            F.sum("metric").cast("long").alias("metric_total"),
            F.sum(F.col("span.b") * 2 + F.col("span2.b"))
            .cast("long")
            .alias("span_total"),
        )
        .orderBy("lang")
    )


@register(
    "scan_arrow_ipc_nested",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(len(embedding)) AS BIGINT) AS dim_total,
           CAST(sum(list_sum(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))))
               AS BIGINT) AS checksum
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    tags=("core", "source", "sink"),
)
def scan_arrow_ipc_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED Arrow IPC scan — the layout embedding interchange files
    actually use. The embeddings table is written once as a
    multi-batch ``.arrow`` file whose vector column is a
    ``fixed_size_list<float32, dim>`` (the tensor-ish layout Feather
    embedding dumps ship) and whose metadata rides a ``struct<label,
    dim>`` column; the ``arrow_ipc`` source maps both recursively
    (sources/arrow_pyds.py:_ddl_type) and re-materializes the
    fixed-size layout as the canonical list layout the JVM Arrow
    bridge accepts — canonical files skip the cast and stay zero-copy
    off the memory map. Values must hash-match an exact-integer
    checksum over every float of every vector against the original
    parquet, so offsets, the fixed-size→list cast, struct children,
    and batch boundaries all have to survive.

    The checksum is order-independent exact math: each float32 casts
    EXACTLY to double, one double multiply is IEEE-identical on both
    engines, round→BIGINT makes the per-element term exact, and
    integer sums commute.

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): the Arrow
    copy builds once per app behind the completion marker.

    Scale: same per-record-batch split as scan_arrow_ipc_roundtrip;
    the fixed-size→list cast is a per-batch executor-side
    re-materialization (offsets only — values are shared), and the
    aggregate is partial+final hash."""
    import os

    from ..sources.arrow_pyds import register_arrow_source
    from .similarity import _build_once

    def _build(p: str) -> None:
        import pyarrow as pa
        import pyarrow.ipc as ipc

        os.makedirs(p, exist_ok=True)
        tbl = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding", "label")
            .toArrow()
        )
        dim = len(tbl.column("embedding")[0])
        emb = (
            tbl.column("embedding")
            .combine_chunks()
            .cast(pa.list_(pa.float32(), dim))
        )
        meta = pa.StructArray.from_arrays(
            [
                tbl.column("label").combine_chunks(),
                pa.array([dim] * len(tbl), pa.int32()),
            ],
            names=["label", "dim"],
        )
        nested = pa.table(
            {"vec_id": tbl.column("vec_id"), "embedding": emb, "meta": meta}
        )
        with ipc.new_file(
            os.path.join(p, "embeddings.arrow"), nested.schema
        ) as w:
            for b in nested.to_batches(max_chunksize=400):
                w.write_batch(b)

    store = _build_once(spark, "embeddings_arrow_nested", sf_dir, _build)
    register_arrow_source(spark)
    checksum = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        spark.read.format("arrow_ipc")
        .option("path", store)
        .load()
        .groupBy(F.col("meta.label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.col("meta.dim")).cast("long").alias("dim_total"),
            F.sum(checksum).cast("long").alias("checksum"),
        )
        .orderBy("label")
    )


@register(
    "scan_arrow_ipc_tz",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
           CAST(sum(hour(ts)) AS BIGINT) AS hour_total
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("core", "source", "sink"),
)
def scan_arrow_ipc_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TZ-AWARE timestamps through the Arrow IPC source — the shape
    pandas-written Feather files actually have (VERDICT r8 missing
    #3): a ``timestamp[ns, tz=America/New_York]`` column. Arrow
    tz-aware timestamps are epoch INSTANTS (the zone is display
    metadata), so the source maps them to Spark TIMESTAMP and
    normalizes the carrier to ``timestamp[us, tz=UTC]``
    (sources/arrow_pyds.py:_canonical_type) — the ns→us cast is
    checked, so sub-microsecond payloads fail loudly. The fixture
    localizes the events table's naive micros as UTC and CONVERTS to
    New York time (same instants, different wall clock), so parity
    against the original parquet proves the zone metadata did not
    shift values: epoch micros match exactly and hour-of-day extracts
    in the UTC session zone, not the file's display zone.

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): builds
    once per app behind the completion marker.

    Scale: per-record-batch partitions; the timestamp re-label is a
    per-batch metadata cast (values shared), aggregate is
    partial+final hash."""
    import os

    from ..sources.arrow_pyds import register_arrow_source
    from .similarity import _build_once

    def _build(p: str) -> None:
        os.makedirs(p, exist_ok=True)

        def write_shard(it) -> None:
            import pyarrow as pa
            import pyarrow.ipc as ipc
            from pyspark import TaskContext

            batches = list(it)
            if not batches:
                return
            tbl = pa.Table.from_batches(batches)
            # naive micros are UTC instants; re-label then CONVERT to
            # the display zone at ns — instants unchanged, wall clock
            # shifted (what a pandas tz-aware Feather writer emits)
            ts = (
                tbl.column("ts")
                .combine_chunks()
                .cast(pa.timestamp("us", tz="UTC"))
                .cast(pa.timestamp("ns", tz="America/New_York"))
            )
            out = pa.table(
                {
                    "event_id": tbl.column("event_id"),
                    "ts": ts,
                    "event_type": tbl.column("event_type"),
                }
            )
            pid = TaskContext.get().partitionId()
            with ipc.new_file(
                os.path.join(p, f"events-{pid:05d}.arrow"), out.schema
            ) as w:
                for b in out.to_batches(max_chunksize=16384):
                    w.write_batch(b)

        # DISTRIBUTED shard write (WARC-builder discipline): each
        # partition emits its own Feather shard via mapInArrow, so
        # build cost parallelizes with the event volume instead of
        # serializing through a driver-side toArrow()
        df = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "event_type")
            .transform(spread_input, sf_dir, "events")
        )

        def sink(it):
            write_shard(it)
            return iter(())

        df.mapInArrow(sink, "event_id long").foreachPartition(
            lambda rows: None
        )

    store = _build_once(spark, "events_arrow_tz", sf_dir, _build)
    register_arrow_source(spark)
    return (
        spark.read.format("arrow_ipc")
        .option("path", store)
        .load()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(F.unix_micros("ts")).cast("long").alias("first_us"),
            F.max(F.unix_micros("ts")).cast("long").alias("last_us"),
            F.sum(F.hour("ts")).cast("long").alias("hour_total"),
        )
        .orderBy("event_type")
    )


@register(
    "scan_warc_roundtrip",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           min('https://corpus.local/' || source || '/'
               || CAST(doc_id AS VARCHAR)) AS first_uri
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("core", "source", "sink"),
)
def scan_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source roundtrip — the web-archive format LLM training
    corpora actually arrive in (Common Crawl ships .warc.gz). The
    documents table is written once as a WARC/1.0 archive in Common
    Crawl's own layout — every record its own gzip member plus a
    sidecar offset index, the role CDX files play at CC — then scanned
    back through the ``warc_py`` Python Data Source
    (sources/warc_pyds.py), which plans one InputPartition PER MEMBER
    from the index: the driver touches only offset triples, records
    inflate and parse executor-side. A planted warcinfo record proves
    the rec_type filter; per-source counts, payload OCTET lengths, and
    the lexicographically-first URI must hash-match the oracle's
    direct computation over the original parquet, so gzip member
    framing, CRLF header grammar, Content-Length arithmetic, and UTF-8
    payload bytes all have to survive.

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): the
    archive builds once per app behind the completion marker; at scale
    the builder IS the crawler that produced the archive.

    Scale shape: member-split scan = Common Crawl's proven 100 TB
    pattern; everything after the scan is codegen aggregation."""
    import os

    from ..sources.warc_pyds import register_warc_source
    from .similarity import _build_once

    store = _build_once(
        spark, "corpus_warc", sf_dir, _warc_corpus_builder(spark, sf_dir)
    )
    register_warc_source(spark)
    return (
        spark.read.format("warc_py")
        .option("path", store)  # directory of member-indexed shards
        .load()
        .filter(F.col("rec_type") == "response")
        .withColumn(
            "source", F.regexp_extract("uri", r"corpus\.local/([^/]+)/", 1)
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("payload")).cast("long").alias("total_bytes"),
            F.min("uri").alias("first_uri"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_web_ingest",
    oracle="""
    WITH staged AS (
        SELECT doc_id, source, text,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
               sha256(text) AS digest
        FROM documents
    ),
    gated AS (
        SELECT *, n_tokens >= 30 AS quality_ok FROM staged
    ),
    keyed AS (
        -- keeper among the QUALITY-PASSING members of each digest
        -- group (null when none pass): one window, no second pass
        SELECT *, min(CASE WHEN quality_ok THEN doc_id END)
                      OVER (PARTITION BY digest) AS keeper
        FROM gated
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_seen,
           CAST(sum(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quality_fail,
           CAST(sum(CASE WHEN quality_ok AND doc_id <> keeper
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
           CAST(sum(CASE WHEN quality_ok AND doc_id = keeper
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           CAST(sum(CASE WHEN quality_ok AND doc_id = keeper
                         THEN n_tokens ELSE 0 END) AS BIGINT)
               AS admitted_tokens
    FROM keyed
    GROUP BY source
    ORDER BY source
    """,
    tags=("core", "source", "dedup"),
)
def pipeline_web_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-ingest capstone: the Common Crawl shape end to end — WARC
    archive → record scan → payload decode → quality gate → global
    exact dedup → per-source admission ledger. The archive is the SAME
    once-per-app store scan_warc_roundtrip builds (shared builder key),
    scanned through the member-range ``warc_py`` source; text decodes
    from the payload bytes, the quality gate is a deterministic
    token-count floor (>= 30 whitespace tokens), dedup elects the
    global min-doc_id survivor per sha256 digest, and the ledger
    reports seen / quality-failed / dup-dropped / admitted / admitted
    token mass per source. The oracle recomputes the same rules over
    the ORIGINAL parquet table, so the WARC transport plus every
    curation rule must agree end to end.

    Scale shape: ONE archive pass — the scan parallelizes by byte
    ranges, the gate is a narrow map, the survivor election is a
    single window keyed on the 32-byte digest with the quality
    condition folded into its min() (so failed docs need no second
    branch), and the ledger is one partial+final aggregate. Plan
    contract pins exactly one warc scan and two hash exchanges.
    This is the first-hop job a 100 TB crawl actually runs."""
    import os

    from ..sources.warc_pyds import register_warc_source
    from .similarity import _build_once

    store = _build_once(
        spark, "corpus_warc", sf_dir, _warc_corpus_builder(spark, sf_dir)
    )
    register_warc_source(spark)
    staged = (
        spark.read.format("warc_py")
        .option("path", store)  # directory of member-indexed shards
        .load()
        .filter(F.col("rec_type") == "response")
        .select(
            F.regexp_extract("uri", r"/(\d+)$", 1).cast("long").alias(
                "doc_id"
            ),
            F.regexp_extract("uri", r"corpus\.local/([^/]+)/", 1).alias(
                "source"
            ),
            F.decode(F.col("payload"), "UTF-8").alias("text"),
        )
        .withColumn(
            "n_tokens",
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + F.lit(1),
        )
        .withColumn("digest", F.sha2("text", 256))
        .withColumn("quality_ok", F.col("n_tokens") >= 30)
    )
    from pyspark.sql import Window

    admitted = F.col("quality_ok") & (F.col("doc_id") == F.col("keeper"))
    return (
        staged.withColumn(
            "keeper",
            F.min(F.when(F.col("quality_ok"), F.col("doc_id"))).over(
                Window.partitionBy("digest")
            ),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seen"),
            F.sum(F.when(~F.col("quality_ok"), 1).otherwise(0))
            .cast("long")
            .alias("n_quality_fail"),
            F.sum(
                F.when(
                    F.col("quality_ok")
                    & (F.col("doc_id") != F.col("keeper")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_dup_dropped"),
            F.sum(F.when(admitted, 1).otherwise(0))
            .cast("long")
            .alias("n_admitted"),
            F.sum(F.when(admitted, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("admitted_tokens"),
        )
        .orderBy("source")
    )


def _warc_corpus_builder(spark: SparkSession, sf_dir: str):
    """The shared WARC archive builder (scan_warc_roundtrip and
    pipeline_web_ingest build the identical store once per app): a
    DISTRIBUTED shard write — each partition's task writes its own
    ``corpus-{pid:05d}.warc.gz`` + sidecar index via foreachPartition,
    so build cost parallelizes with the corpus instead of serializing
    through the driver (the r7 first cut used toLocalIterator and was
    the dominant term in the 10× wall measurement). The reader side
    accepts the directory as-is. Local-mode note: on a real cluster the
    target path must be shared storage (executors write it directly)."""
    import os

    def _build(p: str) -> None:
        os.makedirs(p, exist_ok=True)
        from ..sources.warc import write_warc

        write_warc(
            os.path.join(p, "corpus-info.warc.gz"),
            [("warcinfo", "corpus.local", b"software: engine\r\n")],
        )

        def write_shard(rows) -> None:
            from pyspark import TaskContext

            from articulation_vector_db_api_spark.sources.warc import (
                write_warc as _ww,
            )

            records = [
                (
                    "response",
                    f"https://corpus.local/{r.source}/{int(r.doc_id)}",
                    r.text.encode("utf-8"),
                )
                for r in rows
            ]
            if records:
                pid = TaskContext.get().partitionId()
                _ww(os.path.join(p, f"corpus-{pid:05d}.warc.gz"), records)

        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "text")
            # spread the per-record gzip work across cores — the
            # fixture parquet arrives in a handful of partitions
            .transform(spread_input, sf_dir, "documents")
            .foreachPartition(write_shard)
        )

    return _build


_MATVIEW_SPECS = [
    {"name": "n_orders", "kind": "count"},
    {"name": "revenue", "kind": "sum", "col": "o_totalprice"},
    {"name": "first_date", "kind": "min", "col": "o_orderdate"},
    {"name": "last_date", "kind": "max", "col": "o_orderdate"},
    {"name": "avg_price", "kind": "avg", "col": "o_totalprice"},
    {"name": "approx_customers", "kind": "approx_distinct", "col": "o_custkey"},
]


@register(
    "matview_incremental_rollup",
    oracle=f"""
    WITH hashed AS (
        SELECT o_orderstatus,
               {_sha_sql("CAST(o_custkey AS VARCHAR)", seed=29)} AS h
        FROM orders
    ),
    regs AS (
        SELECT o_orderstatus, h % 64 AS bucket,
               max(CASE WHEN h // 64 = 0 THEN 27
                        ELSE 27 - length(bin(h // 64)) END) AS r
        FROM hashed GROUP BY o_orderstatus, bucket
    ),
    est AS (
        SELECT o_orderstatus,
               sum(power(2.0, -r)) + (64 - count(*)) AS s,
               64 - count(*) AS zeros
        FROM regs GROUP BY o_orderstatus
    ),
    base AS (
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               {_dsum_sql("o_totalprice")} AS revenue,
               min(o_orderdate) AS first_date,
               max(o_orderdate) AS last_date,
               ({_dsum_sql("o_totalprice")} / count(o_totalprice))
                   AS avg_price
        FROM orders GROUP BY o_orderstatus
    )
    SELECT base.o_orderstatus, n_orders, revenue, first_date, last_date,
           avg_price,
           round(CASE WHEN (0.709 * 64 * 64 / s) <= 2.5 * 64 AND zeros > 0
                      THEN 64 * ln(64.0 / zeros)
                      ELSE 0.709 * 64 * 64 / s END, 6) AS approx_customers
    FROM base JOIN est USING (o_orderstatus)
    ORDER BY base.o_orderstatus
    """,
    tags=("core", "matview"),
)
def matview_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized rollup read back through
    the snapshot log (operators/matview.py): orders arrive in three
    batches (keyed o_orderkey % 3), each refresh publishes only that
    batch's PARTIAL aggregates (count / exact-decimal sum / min / max /
    avg pair / portable-HLL registers), a compaction folds the first
    two versions mid-stream, and the read merges the active set —
    compaction + later batch — and finalizes. The oracle computes the
    same statistics in ONE pass over the raw table: equality proves the
    partial algebra is exact (merge-of-partials == single-pass) and
    history-independent (compaction commutes with refresh).

    The reference re-describes its whole index on every /stats call
    (/root/reference/main.py:240,350); this is the 100 TB answer —
    refresh cost ∝ batch, read cost ∝ |keys|×|active versions|, raw
    rows never rescanned.

    SIDE-EFFECTFUL BUILDER (the ann_ivf_stored_probe convention,
    suites/similarity.py:454): builds the store once per (fixture,
    application id); repeated plan builds reuse it via the marker.

    Scale: each refresh is one partial groupBy over its batch; the
    read unions |keys|×3 partial rows — never the corpus. The HLL
    estimate and decimal→double finalize are bit-stable under any
    partitioning (functions/numeric.py dsum convention)."""
    import os

    from ..operators.matview import (
        compact_rollup,
        read_rollup,
        refresh_rollup,
    )
    from .similarity import _app_scoped_store

    from ..operators.maintenance import read_manifest

    o = load_table(spark, sf_dir, "orders")
    keys = ["o_orderstatus"]
    store = _app_scoped_store(spark, "matview_rollup", sf_dir)
    marker = os.path.join(store, "_STORE_COMPLETE")
    if not os.path.exists(marker):
        # crash-idempotent build: a retry after a partial build skips
        # batches whose batch_id already committed (the
        # streaming_rollup_sink pattern) instead of re-appending their
        # partials and double-counting every group; re-running the
        # compaction is lossless by construction (merge-of-merges)
        committed = {
            v.get("batch_id")
            for v in read_manifest(store)["versions"].values()
        }
        for b in range(3):
            if b not in committed:
                refresh_rollup(
                    o.filter(F.col("o_orderkey") % 3 == b),
                    store,
                    keys,
                    _MATVIEW_SPECS,
                    batch_id=b,
                )
            if b == 1:
                compact_rollup(spark, store, keys, _MATVIEW_SPECS)
        with open(marker, "w"):
            pass
    return read_rollup(spark, store, keys, _MATVIEW_SPECS).orderBy(
        "o_orderstatus"
    )


@register(
    "matview_rollup_time_travel",
    oracle=f"""
    WITH hashed AS (
        SELECT o_orderstatus,
               {_sha_sql("CAST(o_custkey AS VARCHAR)", seed=29)} AS h
        FROM orders WHERE o_orderkey % 3 < 2
    ),
    regs AS (
        SELECT o_orderstatus, h % 64 AS bucket,
               max(CASE WHEN h // 64 = 0 THEN 27
                        ELSE 27 - length(bin(h // 64)) END) AS r
        FROM hashed GROUP BY o_orderstatus, bucket
    ),
    est AS (
        SELECT o_orderstatus,
               sum(power(2.0, -r)) + (64 - count(*)) AS s,
               64 - count(*) AS zeros
        FROM regs GROUP BY o_orderstatus
    ),
    base AS (
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               {_dsum_sql("o_totalprice")} AS revenue,
               min(o_orderdate) AS first_date,
               max(o_orderdate) AS last_date,
               ({_dsum_sql("o_totalprice")} / count(o_totalprice))
                   AS avg_price
        FROM orders WHERE o_orderkey % 3 < 2
        GROUP BY o_orderstatus
    )
    SELECT base.o_orderstatus, n_orders, revenue, first_date, last_date,
           avg_price,
           round(CASE WHEN (0.709 * 64 * 64 / s) <= 2.5 * 64 AND zeros > 0
                      THEN 64 * ln(64.0 / zeros)
                      ELSE 0.709 * 64 * 64 / s END, 6) AS approx_customers
    FROM base JOIN est USING (o_orderstatus)
    ORDER BY base.o_orderstatus
    """,
    tags=("core", "matview"),
)
def matview_rollup_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read of the materialized rollup: pin ``as_of`` to
    the mid-stream compaction version, so the answer is EXACTLY what a
    reader saw before batch 2 arrived — the oracle recomputes that
    historical state from the raw table (o_orderkey % 3 < 2). Equality
    proves published versions are immutable, the compaction losslessly
    folded batches 0-1, and the active-set rule hides nothing a
    pinned reader should see — "corpus stats as of version K" for
    reproducible training-run reporting, at |keys| read cost.

    Shares the store (and crash-idempotent builder) of
    matview_incremental_rollup; the compaction version is discovered
    from the manifest, never hardcoded."""
    import os

    from ..operators.maintenance import read_manifest
    from ..operators.matview import _COMPACT_NOTE, read_rollup
    from .similarity import _app_scoped_store

    # ensure the shared store exists (idempotent, marker-guarded)
    matview_incremental_rollup(spark, sf_dir)
    store = _app_scoped_store(spark, "matview_rollup", sf_dir)
    assert os.path.exists(os.path.join(store, "_STORE_COMPLETE"))
    compactions = [
        int(v)
        for v, meta in read_manifest(store)["versions"].items()
        if meta.get("note", "").startswith(_COMPACT_NOTE)
    ]
    pin = min(compactions)  # the mid-stream compaction of batches 0-1
    return read_rollup(
        spark, store, ["o_orderstatus"], _MATVIEW_SPECS, as_of=pin
    ).orderBy("o_orderstatus")


@register(
    "scan_text_roundtrip",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
               AS n_tokens,
           max(doc_id) AS max_doc
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("core", "source", "sink"),
)
def scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented TEXT source + sink round-trip: the corpus is
    serialized once as tab-separated lines (doc_id \\t lang \\t text —
    the classic one-document-per-line interchange raw web corpora ship
    as), read back with the text source, re-parsed with JVM split, and
    aggregated per language. The oracle aggregates the original
    parquet fixture, so a line lost, a field mis-split, or a
    whitespace-mangled document changes token counts and hash-fails.
    Completes the built-in format matrix (parquet / csv / jsonlines /
    orc / binaryFile / text — SURVEY §2.2 scans/sources).

    SIDE-EFFECTFUL BUILDER (ann_ivf_stored_probe contract): the text
    export is written once per app behind a completion marker.

    Scale: text scans split by line at newline boundaries exactly like
    csv — full parallelism with no footer metadata; the parse is a
    codegen'd split/element_at projection, no Python. The trade
    documented here is WHY the engine stores parquet: the text path
    re-tokenizes and re-types every read, and no predicate or column
    ever pushes down."""
    import os

    from .similarity import _build_once

    def _export(p: str) -> None:
        load_table(spark, sf_dir, "documents").select(
            # embedded newlines would split one doc across physical
            # lines and mis-frame the read-back; translating them to
            # spaces is token-count-invariant (\n and \r are \s+
            # whitespace on both engines, so splits/trim see the same
            # token sequence the oracle computes on the raw text)
            F.concat_ws(
                "\t",
                F.col("doc_id"),
                F.col("lang"),
                F.translate(F.col("text"), "\n\r", "  "),
            ).alias("value")
        ).write.mode("overwrite").text(os.path.join(p, "lines"))

    store = _build_once(spark, "docs_text", sf_dir, _export)
    lines_dir = os.path.join(store, "lines")
    parts = F.split(F.col("value"), "\t", 3)
    parsed = spark.read.text(lines_dir).select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).alias("lang"),
        parts.getItem(2).alias("text"),
    )
    return (
        parsed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
            .cast("long")
            .alias("n_tokens"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


_MALFORMED_CSV = _os.path.join(_FIXTURE_FORMATS, "events_malformed.csv")


@register(
    "scan_csv_malformed_tolerant",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 6) AS total_value,
           max(event_id) AS max_id
    FROM read_csv('{_MALFORMED_CSV}', header=true, ignore_errors=true,
                  columns={{'event_id': 'BIGINT', 'event_type': 'VARCHAR',
                            'value': 'DOUBLE'}})
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("core", "source", "fault-tolerance"),
)
def scan_csv_malformed_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fault-tolerant CSV ingestion: a fixture with four kinds of bad
    rows (uncastable key, uncastable measure, missing column, extra
    column) scanned in DROPMALFORMED mode — corrupt rows vanish, the 7
    clean rows aggregate. The oracle reads the SAME file with DuckDB's
    ignore_errors, so the two engines' notions of "malformed" are
    cross-checked row-for-row, not assumed: both engines drop all
    four corrupt rows (verified — DuckDB's ignore_errors discards a
    row whose ANY declared cast fails, matching DROPMALFORMED; no
    null-fill gate is needed). The per-file-fault-isolation sibling
    for whole-file failures is ingest_fault_isolation (O7).

    Scale: DROPMALFORMED is evaluated inside the scan — no quarantine
    shuffle, no second pass; at 100 TB pair it with a PERMISSIVE +
    _corrupt_record quarantine sink when dropped rows must be audited
    rather than discarded."""
    df = spark.read.csv(
        _MALFORMED_CSV,
        header=True,
        schema="event_id long, event_type string, value double",
        mode="DROPMALFORMED",
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum("value"), 6).alias("total_value"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


@register(
    "scan_jsonl_gzip",
    oracle=f"""
    SELECT prefs.lang AS pref_lang,
           CAST(count(*) AS BIGINT) AS n_users,
           max(user_id) AS max_user,
           max(name) AS max_name
    FROM read_json('{_JSONL_PATH}', format='newline_delimited',
                   columns={{'user_id': 'BIGINT', 'name': 'VARCHAR',
                             'prefs': 'STRUCT(lang VARCHAR, n BIGINT)'}})
    GROUP BY prefs.lang
    ORDER BY pref_lang
    """,
    tags=("core", "source"),
)
def scan_jsonl_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GZIP-compressed JSON-lines scan: the fixture is gzipped once
    per app and read back through Spark's codec-dispatching json
    source (extension-inferred decompression), aggregated per nested
    pref language. The oracle reads the ORIGINAL uncompressed file, so
    a byte lost or mangled through the compress/decompress/parse cycle
    hash-fails. Registers the compressed-codec read path (previously
    pytest-only, tests/test_sources.py) as a driver-checked query.

    Scale: gzip is a NON-SPLITTABLE codec — one .gz = one task no
    matter the file size, the classic ingest bottleneck. The documented
    policy: accept gzip at the landing zone edge but re-materialize to
    parquet/zstd (splittable, columnar) in the first hop — exactly what
    this builder's one-time conversion models. For splittable
    compressed text, land bzip2 or many small gzips."""
    import gzip
    import os
    import shutil

    from .similarity import _build_once

    def _compress(p: str) -> None:
        os.makedirs(p, exist_ok=True)
        with open(_JSONL_PATH, "rb") as src, gzip.open(
            os.path.join(p, "users.jsonl.gz"), "wb"
        ) as dst:
            shutil.copyfileobj(src, dst)

    store = _build_once(spark, "users_gz", sf_dir, _compress)
    df = spark.read.json(
        os.path.join(store, "users.jsonl.gz"),
        schema="user_id long, name string, prefs struct<lang:string,n:long>",
    )
    return (
        df.groupBy(F.col("prefs.lang").alias("pref_lang"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.max("user_id").alias("max_user"),
            F.max("name").alias("max_name"),
        )
        .orderBy("pref_lang")
    )


@register(
    "ingest_office_extract",
    oracle="""
    SELECT doc_id,
           CAST(1 AS BIGINT) AS docx_lossless,
           CAST(1 AS BIGINT) AS odt_lossless,
           CAST(1 AS BIGINT) AS pptx_lossless,
           CAST(length(text) AS BIGINT) AS n_chars,
           sha256(text) AS text_sha
    FROM documents
    ORDER BY doc_id
    """,
    tags=("core", "ingest"),
)
def ingest_office_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFICE-FORMAT INGESTION (r13, functions/officetext.py): the
    reference ingests PDF only (main.py:106-115); institutional
    corpora mix DOCX/ODT/PPTX, all ZIP+XML containers extractable
    with stdlib alone. Per doc: the document's text becomes a witness
    DOCX, ODT, and single-slide PPTX (paragraph per line, XML
    escaping, xml:space preservation); each extracts back through
    `operators/ingest._extract_one`'s dispatch and must reconstruct
    the ORIGINAL text exactly — the sha256 of the DOCX-extracted text
    is compared against the oracle's digest of documents.text, so the
    whole build-extract cycle is pinned lossless cross-engine."""
    from ..functions.officetext import (
        build_docx,
        build_odt,
        build_pptx,
        extract_odt_text,
        extract_pptx_text,
    )
    from ..operators.ingest import _extract_one

    schema = (
        "doc_id bigint, docx_lossless bigint, odt_lossless bigint, "
        "pptx_lossless bigint, n_chars bigint, text_sha string"
    )

    def row(doc_id, text):
        text = str(text)
        paras = text.split("\n")
        got_docx, err = _extract_one(
            f"{int(doc_id)}.docx", build_docx(paras)
        )
        got_odt = extract_odt_text(build_odt(paras))
        got_pptx = extract_pptx_text(build_pptx([paras]))
        return (
            doc_id,
            int(err is None and got_docx == text),
            int(got_odt == text),
            int(got_pptx == text),
            len(text),
            hashlib.sha256(
                (got_docx or "").encode()
            ).hexdigest(),
        )

    return per_doc_map(spark, sf_dir, ("doc_id", "text"), schema, row)


@register(
    "ingest_epub_extract",
    oracle="""
    SELECT doc_id,
           CAST(1 AS BIGINT) AS epub_lossless,
           CAST(1 AS BIGINT) AS multi_chapter_ok,
           CAST(1 AS BIGINT) AS mimetype_first,
           CAST(length(text) AS BIGINT) AS n_chars,
           sha256(text) AS text_sha
    FROM documents
    ORDER BY doc_id
    """,
    tags=("core", "ingest"),
)
def ingest_epub_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB INGESTION (r14, functions/epub.py): e-books are ZIPs of
    spine-ordered XHTML — stdlib-extractable like the office formats,
    and a staple of book corpora. Per doc: the document's text
    becomes a single-chapter witness EPUB (one <p> per line) that
    must extract back EXACTLY through `operators/ingest._extract_one`
    (sha pinned cross-engine against documents.text), plus a
    two-chapter build whose spine-ordered extraction must equal the
    halves joined by the chapter separator. The container shape is
    checked too (stored `mimetype` first — the EPUB OCF rule)."""
    import io
    import zipfile

    from ..functions.epub import build_epub, extract_epub_text
    from ..operators.ingest import _extract_one

    schema = (
        "doc_id bigint, epub_lossless bigint, multi_chapter_ok bigint, "
        "mimetype_first bigint, n_chars bigint, text_sha string"
    )

    def row(doc_id, text):
        text = str(text)
        lines = text.split("\n")
        got, err = _extract_one(
            f"{int(doc_id)}.epub", build_epub([lines])
        )
        # two-chapter split; single-line docs get a witness
        # appendix chapter so the spine walk is still 2-deep
        if len(lines) >= 2:
            mid = len(lines) // 2
            ch2 = lines[mid:]
        else:
            mid = len(lines)
            ch2 = ["appendix"]
        two = extract_epub_text(
            build_epub([lines[:mid], ch2])
        )
        expect_two = (
            "\n".join(lines[:mid]) + "\n\n" + "\n".join(ch2)
        )
        with zipfile.ZipFile(
            io.BytesIO(build_epub([lines]))
        ) as z:
            info = z.infolist()[0]
            mt_first = int(
                info.filename == "mimetype"
                and info.compress_type == zipfile.ZIP_STORED
            )
        return (
            doc_id,
            int(err is None and got == text),
            int(two == expect_two),
            mt_first,
            len(text),
            hashlib.sha256((got or "").encode()).hexdigest(),
        )

    return per_doc_map(spark, sf_dir, ("doc_id", "text"), schema, row)


@register(
    "ingest_mail_extract",
    oracle="""
    SELECT doc_id,
           CAST(1 AS BIGINT) AS eml_lossless,
           CAST(doc_id % 2 AS BIGINT) AS multipart,
           CAST(1 AS BIGINT) AS plain_preferred,
           CAST(2 AS BIGINT) AS mbox_messages,
           CAST(1 AS BIGINT) AS mbox_lossless,
           CAST(length(text) AS BIGINT) AS n_chars,
           sha256(text) AS text_sha
    FROM documents
    ORDER BY doc_id
    """,
    tags=("core", "ingest"),
)
def ingest_mail_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAIL INGESTION (r14, functions/mailtext.py): RFC 5322 .eml and
    mboxrd archives via the stdlib email package — mail corpora are a
    staple institutional text source. Per doc: the document's text
    becomes the body of a witness message (odd docs are
    multipart/alternative carrying a DECOY html part that must lose
    to the plain part); extraction must reproduce the body exactly
    modulo MIME's canonical trailing newline, sha-pinned cross-engine
    against documents.text. A two-message mboxrd split of the body
    exercises the ^>*From quoting roundtrip and the archive walk."""
    from ..functions.mailtext import (
        build_eml,
        build_mbox,
        extract_eml,
        extract_mbox_text,
    )

    schema = (
        "doc_id bigint, eml_lossless bigint, multipart bigint, "
        "plain_preferred bigint, mbox_messages bigint, mbox_lossless bigint, "
        "n_chars bigint, text_sha string"
    )

    def row(doc_id, text):
        i = int(doc_id)
        text = str(text)
        multi = i % 2 == 1
        raw = build_eml(
            f"doc {i}",
            text,
            html_alternative=(
                "<p>decoy html body</p>" if multi else None
            ),
        )
        m = extract_eml(raw)
        got = m["text"]
        # MIME canonicalizes the body to end with a newline
        recon = (
            got if text.endswith("\n") else got[: -1]
        ) if got.endswith("\n") else got
        lines = text.split("\n")
        mid = max(1, len(lines) // 2)
        mbox = build_mbox(
            [
                build_eml(f"part 1 of {i}", "\n".join(lines[:mid])),
                build_eml(f"part 2 of {i}", "\n".join(lines[mid:])),
            ]
        )
        both = extract_mbox_text(mbox)
        mbox_ok = int(
            both.count("Subject: part ") == 2
            and "\n".join(lines[:mid]).rstrip("\n") in both
            and "\n".join(lines[mid:]).rstrip("\n") in both
        )
        return (
            doc_id,
            int(recon == text),
            int(multi),
            int(
                m["body_source"] == "plain"
                and "decoy" not in got
            ),
            2,
            mbox_ok,
            len(text),
            hashlib.sha256(recon.encode()).hexdigest(),
        )

    return per_doc_map(spark, sf_dir, ("doc_id", "text"), schema, row)


@register(
    "ingest_archive_explode",
    headline=True,
    oracle="""
    SELECT doc_id,
           CAST(3 AS BIGINT) AS n_members,
           CAST(1 AS BIGINT) AS txt_lossless,
           CAST(1 AS BIGINT) AS docx_lossless,
           CAST(1 AS BIGINT) AS eml_lossless,
           CAST(1 AS BIGINT) AS zip_members,
           CAST(1 AS BIGINT) AS bad_isolated,
           CAST(length(text) AS BIGINT) AS n_chars,
           sha256(text) AS text_sha
    FROM documents
    ORDER BY doc_id
    """,
    tags=("core", "ingest"),
)
def ingest_archive_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARCHIVE-AWARE INGESTION (r14, operators/ingest.explode_archives):
    institutional corpora arrive as tarballs and zips of mixed
    documents; the operator fans one archive row out to one row per
    file member INSIDE the Arrow batch (no shuffle, no driver loop),
    and the member name drives the same extension dispatch the flat
    corpus uses. Per doc: a .tar.gz holding the document's text as a
    .txt, a witness .docx, and a witness .eml — each member must
    extract back to the original text (the .txt sha is pinned
    cross-engine); a one-member .zip exercises the second container;
    a corrupt archive must come back as ONE isolated error row, not
    an exception (the O7 fault boundary at archive granularity)."""
    import io
    import tarfile
    import zipfile

    from ..functions.mailtext import build_eml
    from ..functions.officetext import build_docx
    from ..operators.ingest import _explode_one, _extract_one

    schema = (
        "doc_id bigint, n_members bigint, txt_lossless bigint, "
        "docx_lossless bigint, eml_lossless bigint, zip_members bigint, "
        "bad_isolated bigint, n_chars bigint, text_sha string"
    )

    def row(doc_id, text):
        i = int(doc_id)
        text = str(text)
        members = [
            ("doc.txt", text.encode()),
            ("doc.docx", build_docx(text.split("\n"))),
            ("doc.eml", build_eml(f"doc {i}", text)),
        ]
        buf = io.BytesIO()
        # witness-construction cost only: the archive is the
        # query's INPUT; level 1 halves the zlib time and no
        # output column depends on the compressed bytes
        with tarfile.open(
            fileobj=buf, mode="w:gz", compresslevel=1
        ) as tf:
            for name, data in members:
                info = tarfile.TarInfo(name)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        exploded = _explode_one(f"{i}.tar.gz", buf.getvalue())
        got = {}
        for _p, member, content, err in exploded:
            assert err is None
            got[member], _e = _extract_one(member, content)
        zb = io.BytesIO()
        with zipfile.ZipFile(zb, "w") as z:
            z.writestr("only.txt", text)
        zrows = _explode_one(f"{i}.zip", zb.getvalue())
        bad = _explode_one(f"{i}.tar.gz", b"\x1f\x8b garbage")
        eml_text = got.get("doc.eml", "")
        eml_body = eml_text.split("\n\n", 1)[1] if "\n\n" in eml_text else ""
        eml_ok = eml_body == text or eml_body == text + "\n"
        return (
            doc_id,
            len(exploded),
            int(got.get("doc.txt") == text),
            int(got.get("doc.docx") == text),
            int(eml_ok),
            len(zrows),
            int(
                len(bad) == 1
                and bad[0][3] is not None
                and bad[0][2] is None
            ),
            len(text),
            hashlib.sha256(
                (got.get("doc.txt") or "").encode()
            ).hexdigest(),
        )

    return per_doc_map(spark, sf_dir, ("doc_id", "text"), schema, row)


@register(
    "ingest_rtf_html_extract",
    oracle="""
    SELECT doc_id,
           CAST(1 AS BIGINT) AS rtf_lossless,
           CAST(1 AS BIGINT) AS rtf_destinations_clean,
           CAST(1 AS BIGINT) AS html_normalized_ok,
           CAST(1 AS BIGINT) AS html_title_ok,
           CAST(length(list_filter(string_split(text, chr(10)),
                                   x -> trim(x) <> '')) AS BIGINT)
               AS html_paragraphs,
           CAST(length(text) AS BIGINT) AS n_chars,
           sha256(text) AS text_sha
    FROM documents
    ORDER BY doc_id
    """,
    tags=("core", "ingest"),
)
def ingest_rtf_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF + HTML INGESTION (r14, functions/rtftext.py + the r8
    boilerplate stripper wired into the dispatch): legacy Word
    exports and crawled pages are the two most common non-PDF text
    carriers. Per doc: the text becomes a witness RTF (one paragraph
    per line, non-ASCII via \\uN? escapes) that must extract back
    EXACTLY through the dispatch (sha pinned cross-engine), plus a
    variant carrying {\\*\\generator}/{\\info} destination groups
    whose payload must NOT leak into the text; and a witness HTML
    page whose extraction must equal the whitespace-normalized
    paragraph view with the <title> recovered and the paragraph
    count matching the oracle's non-empty-line count (raw decode
    would ingest tag soup — the defect this dispatch entry fixes)."""
    from ..functions.htmltext import extract_main_text
    from ..functions.officetext import _xml_escape
    from ..functions.rtftext import build_rtf
    from ..operators.ingest import _extract_one

    schema = (
        "doc_id bigint, rtf_lossless bigint, rtf_destinations_clean bigint, "
        "html_normalized_ok bigint, html_title_ok bigint, "
        "html_paragraphs bigint, n_chars bigint, text_sha string"
    )

    def row(doc_id, text):
        i = int(doc_id)
        text = str(text)
        lines = text.split("\n")
        rtf = build_rtf(lines)
        got_rtf, err = _extract_one(f"{i}.rtf", rtf)
        # splice destination groups real writers emit
        dirty = rtf.replace(
            b"\\uc1",
            b"\\uc1{\\*\\generator SECRETGEN}"
            b"{\\info{\\title SECRETTITLE}}",
            1,
        )
        got_dirty, _e = _extract_one(f"{i}d.rtf", dirty)
        body = "".join(
            f"<p>{_xml_escape(ln)}</p>" for ln in lines
        )
        html = (
            f"<html><head><title>doc {i}</title></head>"
            f"<body>{body}</body></html>"
        )
        out = extract_main_text(html)
        got_html, _e2 = _extract_one(f"{i}.html", html.encode())
        norm = "\n".join(
            " ".join(ln.split()) for ln in lines if ln.split()
        )
        return (
            doc_id,
            int(err is None and got_rtf == text),
            int(
                got_dirty == text
                and "SECRET" not in (got_dirty or "")
            ),
            int(out["text"] == norm and got_html == norm),
            int(out["title"] == f"doc {i}"),
            out["n_paragraphs"],
            len(text),
            hashlib.sha256(
                (got_rtf or "").encode()
            ).hexdigest(),
        )

    return per_doc_map(spark, sf_dir, ("doc_id", "text"), schema, row)


@register(
    "pipeline_document_corpus_ingest",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'mbox' WHEN 1 THEN 'epub'
                WHEN 2 THEN 'archive' ELSE 'eml' END AS modality,
           CAST(CASE doc_id % 4
                WHEN 0 THEN 2
                WHEN 1 THEN 2
                WHEN 2 THEN 3
                ELSE 1
                END AS BIGINT) AS units,
           CAST(1 AS BIGINT) AS ok,
           CAST(1 AS BIGINT) AS admitted
    FROM documents
    ORDER BY doc_id
    """,
    tags=("core", "ingest", "pipeline"),
)
def pipeline_document_corpus_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOCUMENT-CORPUS INGEST CAPSTONE (r14): the text-side twin of
    r13's delivery capstone — the router a curation pipeline needs
    when corpora arrive as mail archives, e-books, tarballs of mixed
    documents, or single messages. Per doc, modality by doc_id % 4:

    - mbox: a 2-message mboxrd archive, split and both bodies
      recovered — units = messages;
    - epub: a 2-chapter e-book, spine-extracted — units = chapters;
    - archive: a .tar.gz of {txt, rtf, html} members exploded inside
      the batch and each member's text recovered — units = members;
    - eml: one multipart/alternative message whose html decoy must
      lose to the plain body — units = 1.

    Every payload must recover the document text (`ok`) to be
    `admitted` — the same admission-ledger shape the delivery
    capstone emits, so the curation tier consumes one schema for
    both. Oracle recomputes the unit counts closed-form."""
    import io
    import tarfile

    from ..functions.epub import build_epub, extract_epub_text
    from ..functions.mailtext import (
        build_eml,
        build_mbox,
        extract_eml,
        split_mbox,
    )
    from ..functions.officetext import _xml_escape
    from ..functions.rtftext import build_rtf
    from ..operators.ingest import _explode_one, _extract_one

    schema = (
        "doc_id bigint, modality string, units bigint, ok bigint, "
        "admitted bigint"
    )

    def row(doc_id, text):
        i = int(doc_id)
        kind = i % 4
        text = str(text)
        lines = text.split("\n")
        ok = 0
        units = 0
        try:
            if kind == 0:
                mid = max(1, len(lines) // 2)
                h1, h2 = (
                    "\n".join(lines[:mid]),
                    "\n".join(lines[mid:]),
                )
                msgs = split_mbox(
                    build_mbox(
                        [
                            build_eml("p1", h1),
                            build_eml("p2", h2),
                        ]
                    )
                )
                units = len(msgs)
                bodies = [
                    extract_eml(m)["text"].rstrip("\n")
                    for m in msgs
                ]
                ok = int(
                    bodies == [h1.rstrip("\n"), h2.rstrip("\n")]
                )
            elif kind == 1:
                mid = max(1, len(lines) // 2)
                ch2 = lines[mid:] or ["appendix"]
                blob = build_epub([lines[:mid], ch2])
                got = extract_epub_text(blob)
                units = 2  # chapters BUILT — not re-derived
                # from separator counts, which a blank line
                # inside the text would inflate (r14 review)
                ok = int(
                    got
                    == "\n".join(lines[:mid]) + "\n\n"
                    + "\n".join(ch2)
                )
            elif kind == 2:
                html_body = "".join(
                    f"<p>{_xml_escape(ln)}</p>" for ln in lines
                )
                members = [
                    ("doc.txt", text.encode()),
                    ("doc.rtf", build_rtf(lines)),
                    (
                        "doc.html",
                        f"<html><body>{html_body}"
                        "</body></html>".encode(),
                    ),
                ]
                buf = io.BytesIO()
                with tarfile.open(
                    fileobj=buf, mode="w:gz"
                ) as tf:
                    for name, data in members:
                        info = tarfile.TarInfo(name)
                        info.size = len(data)
                        tf.addfile(info, io.BytesIO(data))
                exploded = _explode_one(
                    f"{i}.tar.gz", buf.getvalue()
                )
                units = len(exploded)
                norm = "\n".join(
                    " ".join(ln.split())
                    for ln in lines
                    if ln.split()
                )
                want = {
                    "doc.txt": text,
                    "doc.rtf": text,
                    "doc.html": norm,
                }
                ok = int(
                    all(e[3] is None for e in exploded)
                    and all(
                        _extract_one(m, c)[0] == want[m]
                        for _p, m, c, _e in exploded
                    )
                )
            else:
                raw = build_eml(
                    f"doc {i}", text,
                    html_alternative="<p>decoy</p>",
                )
                m = extract_eml(raw)
                units = 1
                got = m["text"]
                recon = (
                    got[:-1]
                    if got.endswith("\n")
                    and not text.endswith("\n")
                    else got
                )
                ok = int(
                    recon == text
                    and m["body_source"] == "plain"
                )
        except (ValueError, NotImplementedError):
            ok = 0
        return (
            doc_id,
            ("mbox", "epub", "archive", "eml")[kind],
            units,
            ok,
            int(ok == 1),
        )

    return per_doc_map(spark, sf_dir, ("doc_id", "text"), schema, row)


@register(
    "scan_zstd_jsonl",
    headline=True,
    oracle="""
    SELECT doc_id,
           CAST(1 AS BIGINT) AS jsonl_lossless,
           CAST(1 AS BIGINT) AS multiframe_ok,
           CAST(1 AS BIGINT) AS dispatch_lossless,
           CAST(2 AS BIGINT) AS tar_members,
           CAST(1 AS BIGINT) AS bad_isolated,
           CAST(length(text) AS BIGINT) AS n_chars,
           sha256(text) AS text_sha
    FROM documents
    ORDER BY doc_id
    """,
    tags=("core", "ingest", "scan"),
)
def scan_zstd_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZSTANDARD CORPUS MEMBERS (r15, VERDICT r14 item 3): modern
    public LLM corpora (Dolma, RedPajama, SlimPajama, Pile mirrors)
    ship as ``.jsonl.zst``. Decompression is the from-scratch
    RFC 8878 decoder (functions/zstd.py: FSE table descriptions +
    predefined distributions, 1/4-stream Huffman literals, sequence
    execution with the 3-slot repeat-offset history, XXH64-low-32
    content checksum), wired into the same ingest dispatch seam as
    .gz/.bz2/.xz (operators/ingest.py; the reference's O1/O2 path,
    /root/reference/main.py:258-296).

    Per doc, the witness exercises the REAL compressed-block paths
    (the frames come from the reference encoder via pyarrow's bundled
    libzstd, so FSE/Huffman decode runs on every row — not just the
    raw-block fallback):
    - a .jsonl.zst member: JSON-lines with the doc text split across
      records, frame -> decode -> parse -> reassemble must be
      byte-lossless (sha pinned cross-engine against the oracle);
    - a multi-frame stream (reference frame + from-scratch raw frame
      + a skippable frame) must concatenate, mirroring
      zstd-cat-style corpus shards;
    - a .txt.zst through the full extension dispatch
      (operators/ingest._extract_one) must round-trip;
    - a .tar.zst through the archive exploder must fan out to its
      members (tarfile has no zstd mode pre-3.14 — the frame decode
      is ours);
    - a corrupted frame must isolate as an error row, not raise
      (the O7 fault boundary)."""
    import io
    import json
    import tarfile

    import pyarrow as pa

    from ..functions.zstd import build_zstd_frames, decompress_zstd
    from ..operators.ingest import _explode_one, _extract_one

    schema = (
        "doc_id bigint, jsonl_lossless bigint, multiframe_ok bigint, "
        "dispatch_lossless bigint, tar_members bigint, bad_isolated bigint, "
        "n_chars bigint, text_sha string"
    )

    def ref_compress(data: bytes) -> bytes:
        codec = pa.Codec("zstd", compression_level=3)  # not picklable
        return codec.compress(data).to_pybytes()

    def row(doc_id, text):
        i = int(doc_id)
        text = str(text)
        # 1. .jsonl.zst member, reference-encoded (character
        # midpoint split — JSON escapes any newlines, so the
        # records reassemble by plain concatenation)
        mid = len(text) // 2
        recs = [
            {"id": i, "part": 0, "text": text[:mid]},
            {"id": i, "part": 1, "text": text[mid:]},
        ]
        jsonl = "\n".join(
            json.dumps(r, ensure_ascii=False) for r in recs
        ).encode()
        decoded = decompress_zstd(ref_compress(jsonl))
        parsed = [
            json.loads(ln)
            for ln in decoded.decode().split("\n")
        ]
        recon = "".join(p["text"] for p in parsed)
        jsonl_ok = int(decoded == jsonl and recon == text)
        # 2. multi-frame + skippable concatenation
        skip = (
            (0x184D2A50).to_bytes(4, "little")
            + (4).to_bytes(4, "little")
            + b"meta"
        )
        two = (
            ref_compress(text[: len(text) // 2].encode())
            + skip
            + build_zstd_frames(text[len(text) // 2 :].encode())
        )
        multi_ok = int(decompress_zstd(two) == text.encode())
        # 3. dispatch: .txt.zst through _extract_one
        got, err = _extract_one(
            f"{i}.txt.zst", ref_compress(text.encode())
        )
        disp_ok = int(err is None and got == text)
        # 4. .tar.zst through the archive exploder
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w:") as tf:
            for name, data in (
                ("a.txt", text.encode()),
                ("b.jsonl", jsonl),
            ):
                info = tarfile.TarInfo(name)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        tarzst = ref_compress(buf.getvalue())
        members = _explode_one(f"{i}.tar.zst", tarzst)
        tar_ok = (
            len(members)
            if all(m[3] is None for m in members)
            else -1
        )
        # 5. corrupt frame isolates as an error row — a
        # TRUNCATED frame is the deterministic corruption
        # (the declared content size can never be met; a
        # mid-frame bit flip could legally decode to altered
        # bytes on a checksum-less frame)
        bad = ref_compress(text.encode())[:-3]
        _g, berr = _extract_one(f"{i}.txt.zst", bytes(bad))
        bad_ok = int(_g is None and berr is not None)
        return (
            doc_id,
            jsonl_ok,
            multi_ok,
            disp_ok,
            tar_ok,
            bad_ok,
            len(text),
            hashlib.sha256(
                (got or "").encode()
            ).hexdigest(),
        )

    return per_doc_map(spark, sf_dir, ("doc_id", "text"), schema, row)


@register(
    "ingest_pdf_type0_extract",
    oracle="""
    SELECT doc_id,
           CAST(1 AS BIGINT) AS pdf_lossless,
           CAST(1 AS BIGINT) AS via_cmap,
           CAST(1 AS BIGINT) AS legacy_declines,
           CAST(length(array_to_string(list_filter(list_transform(
                    string_split(text, chr(10)),
                    x -> trim(x, ' ' || chr(9) || chr(13))),
                    x -> x <> ''), chr(10))) AS BIGINT) AS n_chars,
           sha256(array_to_string(list_filter(list_transform(
                    string_split(text, chr(10)),
                    x -> trim(x, ' ' || chr(9) || chr(13))),
                    x -> x <> ''), chr(10))) AS text_sha
    FROM documents
    ORDER BY doc_id
    """,
    tags=("core", "ingest"),
)
def ingest_pdf_type0_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE0/IDENTITY-H PDF INGESTION (r15, VERDICT r14 item 5,
    functions/pdftext.py tier 2): modern digital-born PDFs carry
    composite fonts whose 2-byte CID strings only decode through the
    /ToUnicode CMap. Per doc, the witness builder emits the modern
    shape — catalog/pages/fonts packed in a /Type/ObjStm object
    stream, a cross-reference STREAM with the PNG Up predictor, an
    Identity-H Type0 font, and enumeration-order CIDs that are
    deliberately NOT Unicode code points — so extraction through the
    ingest dispatch proves the whole object-graph + CMap path. The
    sha is pinned cross-engine against the oracle's normalization
    (stripped non-empty lines — the block-level view every extractor
    in this package shares). ``via_cmap`` re-extracts with the CMap
    severed and requires empty text (the honest no-ToUnicode gate);
    ``legacy_declines`` asserts the legacy scrape cannot read the
    witness (so the row really exercises tier 2).

    Scale shape: Arrow-batched narrow map over (doc_id, text), one
    row per doc; PDF bytes never leave the partition."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("pdf_lossless", T.LongType()),
            T.StructField("via_cmap", T.LongType()),
            T.StructField("legacy_declines", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text_sha", T.StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from ..functions import pdftext as P
        from ..operators.ingest import _extract_one

        for pdf_batch in it:
            rows = []
            for doc_id, text in zip(pdf_batch["doc_id"], pdf_batch["text"]):
                i = int(doc_id)
                text = str(text)
                paras = [
                    ln.strip(" \t\r") for ln in text.split("\n")
                ]
                paras = [p for p in paras if p]
                norm = "\n".join(paras)
                pdf = P.build_type0_pdf(paras or ["empty"])
                got, err = _extract_one(f"{i}.pdf", pdf)
                lossless = int(
                    err is None and got == (norm or "empty")
                )
                # no-ToUnicode variant -> the honest gate yields
                # empty text (glyphs skipped, as pypdf does)
                blank = P.build_type0_pdf(
                    paras or ["empty"], to_unicode=False
                )
                gated, _e2 = _extract_one(f"{i}g.pdf", blank)
                via_cmap = int((gated or "") == "")
                # the legacy scrape alone cannot decode the witness
                # (exact tier-1 loop, incl. its skip-on-inflate-error
                # stance — a regex-cut stream must not crash the row)
                import zlib as _zlib

                legacy_lines: list[str] = []
                for raw in P._STREAM_RE.findall(pdf):
                    raw = raw.rstrip(b"\r\n")
                    try:
                        c = _zlib.decompress(raw)
                    except _zlib.error:
                        c = raw
                    if b"BT" in c:
                        legacy_lines.extend(P._text_from_content(c))
                legacy = "\n".join(legacy_lines)
                legacy_declines = int(norm not in legacy or norm == "")
                rows.append(
                    (
                        doc_id,
                        lossless,
                        via_cmap,
                        legacy_declines,
                        len(norm),
                        hashlib.sha256(norm.encode()).hexdigest(),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "text")
        .transform(spread_input, sf_dir, "documents")
        .mapInPandas(batches, schema)
        .repartition("doc_id")  # shuffle barrier: the range-sampling job reuses it, so the map runs ONCE (r16)
        .orderBy("doc_id")
    )


@register(
    "ingest_sevenz_explode",
    oracle="""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_members,
           CAST(1 AS BIGINT) AS txt_lossless,
           CAST(1 AS BIGINT) AS rtf_lossless,
           CAST(1 AS BIGINT) AS store_lossless,
           CAST(1 AS BIGINT) AS bad_isolated,
           CAST(length(text) AS BIGINT) AS n_chars,
           sha256(text) AS text_sha
    FROM documents
    ORDER BY doc_id
    """,
    tags=("core", "ingest"),
)
def ingest_sevenz_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-ZIP ARCHIVE INGESTION (r15, functions/sevenzip.py): the .7z
    container parsed from scratch per the public 7zFormat.txt spec
    (property-tag header tree, folders with coder chains, solid
    substreams, CRC-32 verification) with the stdlib supplying the
    codecs — closing the former '7z not in the stdlib' gate. Per doc:
    an LZMA1-folder archive holding the text as .txt plus a witness
    .rtf, each member exploding through ``explode_archives``'s fault
    boundary and extracting back losslessly (the .txt sha pinned
    cross-engine); a Copy-folder (store) variant exercises the
    second coder path; a corrupt archive must isolate as ONE error
    row. Cross-engine validity is proven in tests/test_sevenzip.py
    (own archives read by libarchive, libarchive's solid
    encoded-header archives read by us)."""
    from ..functions.rtftext import build_rtf
    from ..functions.sevenzip import build_7z
    from ..operators.ingest import _explode_one, _extract_one

    schema = (
        "doc_id bigint, n_members bigint, txt_lossless bigint, "
        "rtf_lossless bigint, store_lossless bigint, bad_isolated bigint, "
        "n_chars bigint, text_sha string"
    )

    def row(doc_id, text):
        i = int(doc_id)
        text = str(text)
        members = [
            ("doc.txt", text.encode()),
            ("doc.rtf", build_rtf(text.split("\n"))),
        ]
        arc = build_7z(members, compress=True)
        exploded = _explode_one(f"{i}.7z", arc)
        got = {}
        for _p, member, content, err in exploded:
            assert err is None, err
            got[member], _e = _extract_one(member, content)
        txt_ok = int(got.get("doc.txt") == text)
        rtf_ok = int(got.get("doc.rtf") == text)
        store = _explode_one(
            f"{i}s.7z", build_7z(members, compress=False)
        )
        store_ok = int(
            len(store) == 2
            and store[0][2] == text.encode()
            and all(r[3] is None for r in store)
        )
        bad = _explode_one(
            f"{i}b.7z", b"7z\xbc\xaf\x27\x1cgarbage"
        )
        bad_ok = int(
            len(bad) == 1
            and bad[0][3] is not None
            and bad[0][2] is None
        )
        return (
            doc_id,
            len(exploded),
            txt_ok,
            rtf_ok,
            store_ok,
            bad_ok,
            len(text),
            hashlib.sha256(
                (got.get("doc.txt") or "").encode()
            ).hexdigest(),
        )

    return per_doc_map(spark, sf_dir, ("doc_id", "text"), schema, row)
