"""Top-k vector similarity search (reference O8-O10).

Reference read path (/root/reference/main.py:176-216, 314-333): embed
the query, ANN-query Pinecone with top_k, project id/score/metadata,
drop empty-text matches, assemble an ordered context string.

Spark-first equivalent: the chunk table is a columnar DataFrame; the
query vector is a constant-foldable expression; scoring is a cosine
fold, ``aggregate(zip_with(...))``, which Spark 4.1 evaluates
interpreted (``CodegenFallback``), not code-generated; ``ORDER BY
score DESC LIMIT k`` plans as ``TakeOrderedAndProject`` — per-partition
top-k heaps merged on the driver, no global sort and no shuffle of the
full table. That is the exact distributed analog of Pinecone's top_k
pushdown (main.py:185) and scales linearly with executor count at
100 TB.

Tie-breaking: Pinecone leaves tie order unspecified; the engine defines
the total order ``score DESC, id ASC`` (SURVEY §4.3.5) so results are
deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

import math
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from ..functions.chunking import chunk_documents
from ..functions.embedding import (
    EMBEDDING_DIM,
    hash_embedding_from_hex,
    hash_embedding_py,
)
from ..functions.vector import dot, l2_norm
from ..sources.readers import load_table, spread_input, table_files

DEFAULT_TOP_K = 5  # main.py:89


def validate_query(query: str) -> str:
    """Empty-query guard (O11, main.py:317-318): an empty query is a
    client error, not a plan."""
    if not query or not query.strip():
        raise ValueError("Query cannot be empty")
    return query


def query_vector_literals(query: str, dim: int | None = None) -> tuple[list[float], float]:
    """Query embedding + its L2 norm as DRIVER-side literals.

    The query vector is a constant; evaluating its 1024-element
    expression tree per probe row would triple the scoring cost (Spark
    does not constant-fold through higher-order functions). CPython and
    SQL produce bit-identical doubles here (same IEEE ops in the same
    order — functions/embedding.py), so both the Spark plan and the
    DuckDB oracle inline the exact same literals."""
    qv = hash_embedding_py(query, dim) if dim else hash_embedding_py(query)
    qnorm = math.sqrt(sum(x * x for x in qv))
    return qv, qnorm


def embed_chunks(chunks: DataFrame, dim: int = EMBEDDING_DIM) -> DataFrame:
    """chunk_documents rows -> (id, source, pos, text, embedding), the
    reference's item shape (main.py:158-170). A smaller ``dim`` gives
    the leading ``dim`` values of the same embedding."""
    return chunks.withColumn("_hex", F.sha2(F.col("chunk_text"), 256)).select(
        F.col("chunk_id").alias("id"),
        "source",
        "pos",
        F.col("chunk_text").alias("text"),
        hash_embedding_from_hex(F.col("_hex"), dim).alias("embedding"),
    )


def build_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → chunk rows with embeddings (the engine's 'index').

    Columns: chunk_id (``{doc_id}_{pos}``, main.py:163), source, pos,
    text, embedding. One narrow stage: scan → explode → project; at
    100 TB this is written out partitioned by ``source`` (see
    operators/ingest.py) so searches scoped to a source prune
    partitions.
    """
    docs = load_table(spark, sf_dir, "documents")
    # single-file fixture = one input split; spread the (expensive)
    # 1024-dim embedding projection across all cores — at scale the
    # scan's own splits make this a cheap rebalance
    docs = docs.transform(spread_input, sf_dir, "documents")
    return embed_chunks(chunk_documents(docs, id_col="doc_id", text_col="text"))


def topk_search(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    top_k: int = DEFAULT_TOP_K,
) -> DataFrame:
    """Exact cosine top-k over the chunk index (O8 + O9).

    The query embedding and norm are driver-side literals
    (query_vector_literals) and scoring runs on the 32-dim digest
    pattern (chunk_patterns) — both mirrored exactly in the oracle.
    Empty-text matches are dropped before the limit (main.py:208), so
    total_results ≤ top_k.
    """
    validate_query(query)
    return _top_rows(score_chunks(spark, sf_dir, query), top_k)


def _top_rows(scored: DataFrame, top_k: int) -> DataFrame:
    """The best ``top_k`` rows of an (id, source, text, raw) relation as
    (id, source, text, score), score = ``round(raw, 6)``. Ordered by
    ``(raw DESC, id ASC)``, it plans as ``TakeOrderedAndProject``:
    per-partition heaps, a bounded driver merge."""
    return (
        scored.selectExpr("id", "source", "text", "round(raw, 6) AS score", "raw")
        .orderBy(F.desc("raw"), F.asc("id"))
        .limit(top_k)
        .drop("raw")
    )


PATTERN_DIM = 32


def chunk_patterns(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """Chunk the corpus and attach the 32-dim scoring pattern:
    (id, source, text, pattern).

    Model-aware rewrite: the hash embedding is 32-periodic by
    construction (digest[i % 32], main.py:142), so cosine over dims
    1..32 is MATHEMATICALLY identical to cosine over all 1024
    (dot1024 = 32·dot32, norms scale by √32 on both sides). Scoring
    therefore never materializes the 1024-dim vector — a 32× cut in
    the scan's per-row work. hash_embedding_vectors still verifies
    full-dim parity; the oracles mirror this same 32-dim formula.

    ``spread`` rebalances the scan across all cores before the
    (expensive) chunk+hash projection — callers that EVALUATE the
    whole relation (the hybrid-RRF prune pass) want it; the
    single-file fixture otherwise runs the projection on one input
    split. Top-k callers skip it: TakeOrderedAndProject's per-
    partition heaps don't repay an extra shuffle of raw text."""
    docs = load_table(spark, sf_dir, "documents")
    if spread:
        docs = docs.transform(spread_input, sf_dir, "documents")
    chunks = chunk_documents(docs, id_col="doc_id", text_col="text")
    return (
        embed_chunks(chunks, PATTERN_DIM)
        .select("id", "source", "text", F.col("embedding").alias("pattern"))
        .filter(F.length("text") > 0)
    )


def score_chunks(
    spark: SparkSession, sf_dir: str, query: str, spread: bool = False
) -> DataFrame:
    """Chunk + score the corpus against a query: (id, source, text,
    raw) with raw = cosine similarity. ``spread`` as in
    chunk_patterns."""
    index = chunk_patterns(spark, sf_dir, spread=spread)
    qv, qnorm = query_vector_literals(query, PATTERN_DIM)
    qvec = F.array(*[F.lit(v) for v in qv])  # constant-folded to one literal
    score = dot(F.col("pattern"), qvec) / (l2_norm(F.col("pattern")) * F.lit(qnorm))
    return index.withColumn("raw", score).select("id", "source", "text", "raw")


# The chunk table as operators/ingest.py writes it, partitioned by
# ``source``. Declared because Spark infers a partition column's type
# from its values: sources ``2024`` and ``0042`` would read back as the
# integers 2024 and 42.
CHUNK_TABLE_SCHEMA = (
    "id string, pos int, text string, embedding array<double>, source string"
)


def read_chunk_table(spark: SparkSession, table_path: str) -> DataFrame:
    """The stored chunk table, with ``source`` always a string."""
    return spark.read.schema(CHUNK_TABLE_SCHEMA).parquet(table_path)


def _serving_projection(chunks: DataFrame) -> DataFrame:
    """Stored chunk rows -> the serving projection (id, source, text,
    pattern, pnorm). The pattern is the stored 1024-dim embedding's
    first 32 dims (periodicity rewrite), so column pruning reads only
    the embedding and identity columns. The pattern norm is
    query-independent: computed once here, every request's fold is
    dot-only (half the per-row work)."""
    return (
        chunks.filter(F.length("text") > 0)
        .select(
            "id", "source", "text",
            F.slice(F.col("embedding"), 1, PATTERN_DIM).alias("pattern"),
        )
        .withColumn("pnorm", l2_norm(F.col("pattern")))
    )


def topk_search_indexed(
    spark: SparkSession,
    table_path: str,
    query: str,
    top_k: int = DEFAULT_TOP_K,
) -> DataFrame:
    """Search over a WRITTEN chunk table (operators/ingest.py output) —
    the reference's steady-state: ingest once, query many
    (main.py:176-216 against the persisted index).

    It scores the table's serving projection with the same fold as
    :func:`topk_search_cached`. A source-scoped search over the
    partitioned table prunes partitions entirely; serving tiers that
    issue many queries should ``open_serving_index`` once instead and
    search the cached projection."""
    return topk_search_cached(
        _serving_projection(read_chunk_table(spark, table_path)), query, top_k
    )


@dataclass(frozen=True)
class ServingIndex:
    """Driver-resident serving projection: what ``open_serving_index``
    keeps when the whole table is one cached partition. Immutable, so
    concurrent requests share it without a lock."""

    ids: list
    sources: list
    texts: list
    patterns: np.ndarray  # (PATTERN_DIM, n) float64, one row per dim
    pnorm: np.ndarray  # (n,) float64, l2_norm(pattern) computed by Spark

    @classmethod
    def empty(cls) -> ServingIndex:
        return cls([], [], [], np.empty((PATTERN_DIM, 0)), np.empty(0))


PARTITION_BYTES = 64 << 20  # source parquet per cached serving partition


def serving_partitions(files: dict[str, tuple[int, int]] | None) -> int | None:
    """Cached partitions for a table of ``files`` (:func:`table_files`):
    one per :data:`PARTITION_BYTES` of data, at least one; None when
    the files are unknown."""
    if files is None:
        return None
    total = sum(size for size, _mtime in files.values())
    return max(1, -(-total // PARTITION_BYTES))


def open_serving_index(
    spark: SparkSession, table_path: str
) -> DataFrame | ServingIndex:
    """O15 bootstrap pre-warm: read the stored chunk table ONCE and
    project the serving columns, so the steady-state read path never
    re-opens parquet footers per request (the reference holds its
    Pinecone index handle open the same way, main.py:60-76).

    Partitioning is sized by DATA volume (:func:`serving_partitions`,
    ~64 MB of source parquet per cached partition), not by the table's
    file count: a serving tier runs many concurrent top-k jobs, and
    per-task scheduling overhead on dozens of tiny cached partitions
    dominates latency long before compute does. At 100 TB the same rule
    yields thousands of partitions — still correct.

    When that rule gives ONE partition, every top-k plan would be a
    single task anyway, and the per-job floor, plan build and collect
    dominate it. The projection is then pulled into the driver with
    one ``toArrow`` job and returned as a :class:`ServingIndex`;
    requests score it in-process and start no Spark job (batch build in
    Spark, local top-k, as in REPOSE). ``EngineAPI.ingest`` then folds
    each batch it writes into that index (:func:`merge_serving_index`)
    instead of calling this again. Larger tables, and tables whose
    size is unknown (not a local directory), stay a persisted
    DataFrame. MEMORY_AND_DISK: on a large cluster a 100 TB chunk table
    only partially fits executor memory — the overflow serves from
    local disk, never recomputed from source."""
    from pyspark import StorageLevel

    chunks = read_chunk_table(spark, table_path)
    n_parts = serving_partitions(table_files(table_path))
    df = _serving_projection(chunks)
    if n_parts == 1:
        local = _driver_index(df)
        if local is not None:
            return local
    if n_parts is not None and n_parts < df.rdd.getNumPartitions():
        df = df.coalesce(int(n_parts))
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()  # materialize now: the first request must not pay the scan
    return df


def collect_serving_index(chunks: DataFrame) -> ServingIndex | None:
    """Chunk rows, as ingest builds them, as a :class:`ServingIndex`:
    their serving projection in one ``toArrow`` job; None as in
    :func:`_driver_index`. The rows' embedding need only hold its first
    PATTERN_DIM dims. The caller bounds the rows: every one of them
    reaches the driver."""
    return _driver_index(_serving_projection(chunks))


def merge_serving_index(base: ServingIndex, batch: ServingIndex) -> ServingIndex:
    """``base`` after ``batch`` was written into its table: the base rows
    of every source in the batch are dropped and the batch rows
    appended, as write_chunk_table's dynamic partition overwrite
    replaces those sources' partitions. ``batch`` must hold every row
    written: the chunker never emits an empty chunk, so the serving
    projection's text filter drops none of ingest's rows."""
    replaced = set(batch.sources)
    keep = [i for i, s in enumerate(base.sources) if s not in replaced]
    return ServingIndex(
        ids=[base.ids[i] for i in keep] + batch.ids,
        sources=[base.sources[i] for i in keep] + batch.sources,
        texts=[base.texts[i] for i in keep] + batch.texts,
        patterns=np.concatenate(
            [base.patterns[:, keep], batch.patterns], axis=1
        ),
        pnorm=np.concatenate([base.pnorm[keep], batch.pnorm]),
    )


def _driver_index(df: DataFrame) -> ServingIndex | None:
    """Collect the serving projection as a :class:`ServingIndex`, or
    None when some pattern is null or not PATTERN_DIM long (the SQL
    fold's null semantics then apply, so the Spark path serves it)."""
    t = df.toArrow()
    pat = t.column("pattern").combine_chunks()
    flat = pat.flatten()
    if pat.null_count or flat.null_count or not np.all(
        np.diff(pat.offsets.to_numpy()) == PATTERN_DIM
    ):
        return None
    patterns = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    return ServingIndex(
        ids=t.column("id").to_pylist(),
        sources=t.column("source").to_pylist(),
        texts=t.column("text").to_pylist(),
        patterns=np.ascontiguousarray(patterns.reshape(-1, PATTERN_DIM).T),
        pnorm=t.column("pnorm").to_numpy(),
    )


_SCORE_QUANTUM = Decimal("1e-6")


def spark_round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on the decimal the
    JVM prints for ``x`` (``BigDecimal.valueOf``), which Python's
    shortest ``repr`` matches. Python's ``round`` works on the binary
    value instead: round(0.1234565, 6) is 0.123456, Spark's 0.123457."""
    d = Decimal(repr(x)).quantize(_SCORE_QUANTUM, rounding=ROUND_HALF_UP)
    return float(d) + 0.0  # BigDecimal has no -0: round(-1e-7, 6) is 0.0


# Pattern columns per step of _pattern_dots: its temporary is
# PATTERN_DIM x _FOLD_COLUMNS doubles (1 MiB) per request, not
# PATTERN_DIM x n (about 22 MB for a 64 MB table of ~85k chunks).
_FOLD_COLUMNS = 4096


def _pattern_dots(patterns: np.ndarray, qv: list[float]) -> np.ndarray:
    """functions/vector.py:dot of each column of ``patterns`` (PATTERN_DIM,
    n) with ``qv``, bit for bit: see :func:`_local_topk`."""
    q = np.asarray(qv)[:, None]
    dots = np.empty(patterns.shape[1])
    for start in range(0, dots.size, _FOLD_COLUMNS):
        prod = patterns[:, start:start + _FOLD_COLUMNS] * q
        if prod.shape[1] == 1:  # numpy would sum a lone column pairwise
            acc = 0.0
            for v in prod[:, 0].tolist():
                acc += v
            dots[start] = acc
        else:
            np.add.reduce(prod, axis=0, initial=0.0,
                          out=dots[start:start + _FOLD_COLUMNS])
    return dots


def _local_topk(index: ServingIndex, query: str, top_k: int) -> list[Row]:
    """Top-k over a :class:`ServingIndex`, bit-identical to the SQL
    path: the same left-to-right double fold from 0.0 as
    functions/vector.py:dot, divided by ``pnorm * qnorm``, ordered by
    ``(raw DESC, id ASC)``.

    The fold (:func:`_pattern_dots`) is one multiply and one
    ``np.add.reduce`` down the PATTERN_DIM axis per block of
    :data:`_FOLD_COLUMNS` columns, not two numpy calls per dimension,
    so a request costs a constant number of numpy calls. Reducing the
    outer axis of a block two or more columns wide adds each row into
    the column sums in order, which is the left fold, and ``initial=0.0``
    starts each sum from the fold's ``0.0``, so an all-zero column's
    ``-0.0`` products sum to ``0.0``. A block of one column is folded
    in Python: numpy reduces a single contiguous column pairwise, which
    rounds differently."""
    if top_k < 0:
        raise ValueError(f"top_k must be >= 0, got {top_k}")
    qv, qnorm = query_vector_literals(query, PATTERN_DIM)
    raw = _pattern_dots(index.patterns, qv) / (index.pnorm * qnorm)
    if 0 < top_k < raw.size:
        # every row tying the k-th best raw is a candidate, so the exact
        # (raw, id) sort below decides ties the way Spark's sort does
        kth = raw[np.argpartition(-raw, top_k - 1)[top_k - 1]]
        cand = np.flatnonzero(raw >= kth)
    else:
        cand = np.arange(raw.size)
    best = sorted(zip((-raw[cand]).tolist(), [index.ids[i] for i in cand],
                      cand.tolist()))[:top_k]
    return [
        Row(id=rid, source=index.sources[i], text=index.texts[i],
            score=spark_round6(-neg))
        for neg, rid, i in best
    ]


def topk_search_cached(
    index: DataFrame | ServingIndex, query: str, top_k: int = DEFAULT_TOP_K
) -> DataFrame | list[Row]:
    """Top-k cosine over an ``open_serving_index`` result.

    A :class:`ServingIndex` is scored in-process and the top rows come
    back as a list of ``Row(id, source, text, score)``, with no Spark
    job. Any other serving projection (a persisted DataFrame, or
    :func:`topk_search_indexed`'s read of the table) is scored in Spark
    with bit-identical scores: the scoring expression is ONE SQL string
    (a handful of py4j roundtrips instead of ~100 Column-API calls —
    measured ~0.3 s of per-request plan-build at p50 before this), the
    same left-to-right double-precision fold as functions/vector.py:dot,
    divided by the pre-computed ``pnorm`` times the query-norm
    literal."""
    validate_query(query)
    if isinstance(index, ServingIndex):
        return _local_topk(index, query, top_k)
    qv, qnorm = query_vector_literals(query, PATTERN_DIM)
    qarr = "array(" + ", ".join(f"{v!r}D" for v in qv) + ")"
    raw_sql = (
        f"aggregate(zip_with(pattern, {qarr}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v) / (pnorm * {qnorm!r}D)"
    )
    return _top_rows(
        index.selectExpr("id", "source", "text", f"({raw_sql}) AS raw"), top_k
    )


def assemble_context(topk: DataFrame, query: str) -> DataFrame:
    """Ordered context-string aggregation (O10, main.py:324).

    ``[Source: {source}]\\n{text}`` joined by ``\\n\\n---\\n\\n`` in
    score-descending order. collect_list order is nondeterministic, so
    rank first and array_sort the (rank, fragment) structs — an ordered
    string agg without any driver-side loop.
    """
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    ranked = topk.withColumn("rnk", F.row_number().over(w)).withColumn(
        "fmt",
        F.concat(F.lit("[Source: "), F.col("source"), F.lit("]\n"), F.col("text")),
    )
    return ranked.agg(
        F.lit(query).alias("query"),
        F.count(F.lit(1)).alias("total_results"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rnk", "fmt"))),
                lambda s: s.getField("fmt"),
            ),
            "\n\n---\n\n",
        ).alias("context"),
    )


RRF_CONST = 60  # the standard Reciprocal Rank Fusion constant


def rrf_candidate_prune(kwdf: DataFrame, k_prime: int, shards: int) -> DataFrame:
    """Stage 1 of exact distributed RRF: per-shard top-k′ pruning.

    Input: a narrow scored relation ``(id, source, raw, kw_hits)`` —
    the text column must already be projected away so the one shuffle
    here ships only identity + two numbers per row. Rows are hashed
    into ``shards`` shards and ranked WITHIN each shard for both
    dimensions (one hash exchange, two window passes sharing it —
    never a partition-less window over the corpus). Any row in the
    GLOBAL top-k′ of a dimension is, a fortiori, in its shard's
    top-k′, so the ≤ ``2·shards·k_prime``-row output is a provable
    superset of both global top-k′ lists at any corpus size."""
    shard = F.pmod(F.xxhash64("id"), F.lit(shards))
    w_vec = Window.partitionBy("shard").orderBy(F.desc("raw"), F.asc("id"))
    w_kw = Window.partitionBy("shard").orderBy(F.desc("kw_hits"), F.asc("id"))
    return (
        kwdf.select("id", "source", "raw", "kw_hits")
        .withColumn("shard", shard)
        .withColumn("rv", F.row_number().over(w_vec))
        .withColumn("rk", F.row_number().over(w_kw))
        .filter((F.col("rv") <= k_prime) | (F.col("rk") <= k_prime))
        .drop("shard", "rv", "rk")
    )


def rrf_fuse_topk(
    spark: SparkSession,
    kwdf: DataFrame,
    k: int,
    k_prime: int = 128,
    shards: int = 32,
) -> DataFrame:
    """Exact top-k Reciprocal Rank Fusion without a corpus-sized
    partition-less window: ``rrf = 1/(60+rank_vec) + 1/(60+rank_kw)``
    over GLOBAL ranks, matching the naive double-global-row_number
    oracle bit-for-bit.

    Execution (the per-shard top-k′ + merge the RRF literature
    prescribes, extended so the REPORTED ranks stay globally exact):

    1. ``rrf_candidate_prune`` — one corpus scan, one narrow shuffle,
       shard-keyed windows. Collect the ≤ 2·shards·k′ survivors (the
       same bounded-driver-merge step ``TakeOrderedAndProject`` does
       internally for every top-k in this repo).
    2. Driver-side, on the bounded set: the global top-k′ lists per
       dimension (exact — the pruned set is a superset), hence exact
       global ranks for every row in either list. A row in NEITHER
       list has ``rrf < 2/(61+k′) < kth-best − 2·10⁻⁶`` and is
       provably outside the rounded top-k (the constructor asserts
       this inequality), so it is dropped.
    3. A candidate missing ONE dimension's rank (e.g. top keyword hits
       but vector rank > k′) is either (a) provably sub-threshold —
       its best-case rrf sits 2·10⁻⁶ (two rounding quanta) below the
       k-th best lower bound — and dropped, or (b) REFINED: one extra
       aggregation pass over the corpus computes its exact global rank
       as a predecessor count. The refinement set is provably small:
       a refined row's known-dimension rank r satisfies
       ``1/(60+r) ≥ 1/(60+k) − 2e-6 − 1/(61+k′)``, i.e. r ≲ 40 for
       (k=5, k′=128), so ≤ ~80 conditional sums in one scan — and the
       pass is skipped entirely when nothing needs refining.
    4. The fused tail (≤ 2k′ rows with exact ranks) computes rrf and
       takes the rounded top-k in a tiny Spark plan.

    At 100 TB: one full scan + one narrow shuffle (plus the rare
    bounded refinement scan), versus the naive plan's two corpus-sized
    Exchange SinglePartition sorts."""
    if 2.0 / (61 + k_prime) > 1.0 / (RRF_CONST + k) - 2e-6:
        raise ValueError(
            f"k_prime={k_prime} too shallow for exact top-{k} RRF: "
            f"need 2/(61+k') <= 1/(60+k) - 2e-6"
        )
    # the narrow projection is read twice (prune pass + the possible
    # refinement pass) — persist it so the expensive upstream lineage
    # (chunk + sha256 scoring) evaluates once; unpersisted before
    # returning (the fused tail is lineage-free)
    kwdf = kwdf.persist()
    try:
        return _rrf_fuse_topk_inner(spark, kwdf, k, k_prime, shards)
    finally:
        kwdf.unpersist()


def _rrf_fuse_topk_inner(
    spark: SparkSession,
    kwdf: DataFrame,
    k: int,
    k_prime: int,
    shards: int,
) -> DataFrame:
    pruned = rrf_candidate_prune(kwdf, k_prime, shards)
    rows = pruned.collect()  # bounded: ≤ 2·shards·k_prime narrow rows

    by_vec = sorted(rows, key=lambda r: (-r.raw, r.id))[:k_prime]
    by_kw = sorted(rows, key=lambda r: (-r.kw_hits, r.id))[:k_prime]
    rank_vec = {r.id: i + 1 for i, r in enumerate(by_vec)}
    rank_kw = {r.id: i + 1 for i, r in enumerate(by_kw)}
    cands = [r for r in rows if r.id in rank_vec or r.id in rank_kw]

    lb = 1.0 / (RRF_CONST + k_prime + 1)  # missing rank is > k_prime

    def _low(r):
        return (1.0 / (RRF_CONST + rank_vec[r.id]) if r.id in rank_vec else 0.0) + (
            1.0 / (RRF_CONST + rank_kw[r.id]) if r.id in rank_kw else 0.0
        )

    def _high(r):
        return (1.0 / (RRF_CONST + rank_vec[r.id]) if r.id in rank_vec else lb) + (
            1.0 / (RRF_CONST + rank_kw[r.id]) if r.id in rank_kw else lb
        )

    lows = sorted((_low(r) for r in cands), reverse=True)
    t = lows[k - 1] if len(lows) >= k else float("-inf")

    keep, need_vec, need_kw = [], [], []
    for r in cands:
        missing = r.id not in rank_vec or r.id not in rank_kw
        if missing and _high(r) < t - 2e-6:
            continue  # provably below the rounded k-th best
        keep.append(r)
        if r.id not in rank_vec:
            need_vec.append(r)
        if r.id not in rank_kw:
            need_kw.append(r)

    if need_vec or need_kw:
        # exact global rank = 1 + predecessor count, all candidates in
        # ONE corpus pass of conditional sums (provably ≤ ~2·40 columns)
        aggs = []
        for i, r in enumerate(need_vec):
            pred = (F.col("raw") > F.lit(r.raw)) | (
                (F.col("raw") == F.lit(r.raw)) & (F.col("id") < F.lit(r.id))
            )
            aggs.append(F.sum(F.when(pred, 1).otherwise(0)).alias(f"v{i}"))
        for i, r in enumerate(need_kw):
            pred = (F.col("kw_hits") > F.lit(r.kw_hits)) | (
                (F.col("kw_hits") == F.lit(r.kw_hits)) & (F.col("id") < F.lit(r.id))
            )
            aggs.append(F.sum(F.when(pred, 1).otherwise(0)).alias(f"k{i}"))
        counts = kwdf.agg(*aggs).collect()[0]
        for i, r in enumerate(need_vec):
            rank_vec[r.id] = counts[f"v{i}"] + 1
        for i, r in enumerate(need_kw):
            rank_kw[r.id] = counts[f"k{i}"] + 1

    fused = spark.createDataFrame(
        [(r.id, r.source, r.kw_hits, rank_vec[r.id], rank_kw[r.id]) for r in keep],
        schema="id string, source string, kw_hits bigint, rank_vec int, rank_kw int",
    )
    return (
        fused.withColumn(
            "rrf",
            F.round(
                1.0 / (RRF_CONST + F.col("rank_vec"))
                + 1.0 / (RRF_CONST + F.col("rank_kw")),
                6,
            ),
        )
        .orderBy(F.desc("rrf"), "id")
        .limit(k)
    )


class _NegStr(str):
    """Inverts string ordering so ``max(key=(score, _NegStr(id)))``
    breaks score ties toward the SMALLEST id — the engines' ``ORDER BY
    score DESC, id ASC`` tie rule."""

    def __lt__(self, other) -> bool:  # type: ignore[override]
        return str.__gt__(self, other)

    def __gt__(self, other) -> bool:  # type: ignore[override]
        return str.__lt__(self, other)


def mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    k: int = 3,
    pool: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking for arbitrary k: each pick
    maximizes lam*relevance - (1-lam)*max-similarity-to-picked, so
    near-duplicate chunks don't crowd the context window (the RAG
    failure mode plain top-k inherits, main.py:184-189).

    Greedy MMR is inherently sequential in k, and every round needs
    only the ``pool`` candidates — so the distributed work is exactly
    ONE job (the corpus scan's top-``pool``, collected: ≤ pool rows of
    32 doubles), and the greedy selection itself runs driver-side in
    plain Python. The Python fold mirrors the engines' arithmetic
    bit-for-bit (left-to-right IEEE adds from a 0.0 accumulator —
    functions/vector.py), which the SQL oracle twin verifies; the
    final projection rounds in Spark so scores stay bit-identical with
    the oracle's round(). Previous shape (one .first() job per pick)
    launched k scheduler rounds to scan ≤ pool cached rows — strictly
    worse at any scale."""
    import math

    scored = score_chunks(spark, sf_dir, query)
    pats = chunk_patterns(spark, sf_dir).select("id", "pattern")
    cands = (
        scored.join(pats, "id")
        .orderBy(F.desc("raw"), "id")
        .limit(pool)
        .select("id", "raw", "pattern")
        .cache()
    )
    rows = cands.collect()  # the one distributed job

    def _dot(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def _cos(a: list, b: list) -> float:
        return _dot(a, b) / (math.sqrt(_dot(a, a)) * math.sqrt(_dot(b, b)))

    picked: list = []
    remaining = list(rows)
    while remaining and len(picked) < k:
        if not picked:
            best = max(remaining, key=lambda r: (r.raw, _NegStr(r.id)))
        else:
            best = max(
                remaining,
                key=lambda r: (
                    lam * r.raw
                    - (1 - lam)
                    * max(_cos(r.pattern, p.pattern) for p in picked),
                    _NegStr(r.id),
                ),
            )
        picked.append(best)
        remaining = [r for r in remaining if r.id != best.id]
    picks = spark.createDataFrame(
        [(i + 1, p.id) for i, p in enumerate(picked)], "pick int, id string"
    )
    return (
        F.broadcast(picks)
        .join(cands, "id")
        .select("pick", "id", F.round("raw", 6).alias("score"))
        .orderBy("pick")
    )
