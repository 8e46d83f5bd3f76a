"""Table sources with explicit, code-declared schemas.

The reference declares every schema in code (Pydantic models,
/root/reference/main.py:81-103) and never infers; the engine does the
same with StructType on every reader — schema inference at 100 TB means
an extra full scan and nondeterministic types.

``binaryFile`` is the multimodal source (the reference's PDF corpus,
main.py:268); parquet is the canonical columnar store for everything
else.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table_names() -> list[str]:
    return list(SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema.

    Explicit schema means Catalyst can prune columns at the parquet
    footer level and never pays an inference scan.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def _hidden(name: str) -> bool:
    """Spark's file index skips these names: ``_temporary``,
    ``_SUCCESS``, ``.crc`` checksums (a ``_`` name holding ``=`` is a
    partition directory and is read)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def table_absent(path: str) -> bool:
    """Nothing at a local ``path`` or ``file://`` URI: an empty table.
    Any other URI (``s3a://``, ``hdfs://``) is never known to be absent
    here."""
    url = urlparse(path)
    if url.scheme == "file":
        return not os.path.lexists(url.path)
    return not url.scheme and not os.path.lexists(path)


def table_files(path: str) -> dict[str, tuple[int, int]] | None:
    """The data files Spark reads for a local table, as ``{relpath:
    (size, mtime_ns)}``, skipping hidden files and directories the way
    Spark does. An absent table (:func:`table_absent`) is an empty one,
    ``{}``. None when the files are unknown here: a URI (``file://``,
    ``s3a://``), a single file, or a listing that raced a writer."""
    if table_absent(path):
        return {}
    if urlparse(path).scheme or not os.path.isdir(path):
        return None

    def fail(err: OSError) -> None:
        raise err

    files = {}
    try:
        for root, dirs, names in os.walk(path, onerror=fail):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for name in names:
                if not _hidden(name):
                    full = os.path.join(root, name)
                    st = os.stat(full)
                    files[os.path.relpath(full, path)] = (
                        st.st_size, st.st_mtime_ns,
                    )
    except OSError:
        return None
    return files


# r17 (guide §2.4, remove shuffles outright): total on-disk bytes per
# table path, memoized — one listing per path per process. Feeds the
# spread_input() decision below without touching Spark planning (a
# df.rdd.getNumPartitions() probe costs ~100 ms of py4j/planning per
# call, which would land inside the bench's timed region).
# The memo is only valid for tables the session never rewrites.
_TABLE_BYTES: dict[str, int | None] = {}


def _path_bytes(path: str) -> int | None:
    """Bytes of a local file, or of the files Spark reads for a local
    table (:func:`table_files`); None when the size is unknown (a URI
    such as ``s3a://`` or ``hdfs://``, an absent path, or a listing
    that raced a writer)."""
    if path not in _TABLE_BYTES:
        if os.path.isfile(path):
            size = os.path.getsize(path)
        else:
            files = None if table_absent(path) else table_files(path)
            size = None if files is None else sum(s for s, _ in files.values())
        _TABLE_BYTES[path] = size
    return _TABLE_BYTES[path]


def _conf_bytes(raw: str) -> int:
    """Parse a Spark byte conf ('134217728', '128m', '1g')."""
    raw = raw.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if raw and raw[-1] == "b":
        raw = raw[:-1]
    if raw and raw[-1] in mult:
        return int(raw[:-1]) * mult[raw[-1]]
    return int(raw)


def spread_input(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Fan a fixture-scan-derived frame out to core-count partitions
    ONLY when the scan cannot do that itself (guide §2.4).

    The local fixture is one small parquet file, so the scan yields one
    split and a round-robin ``repartition(defaultParallelism)`` is
    REQUIRED to put every core to work. At production scale the same
    table arrives in >= core-count splits — any input of at least
    ``defaultParallelism x maxPartitionBytes`` bytes provably scans as
    at least ``defaultParallelism`` file partitions — and the blanket
    repartition would round-robin the full payload (document text,
    embedding vectors) through a shuffle for nothing. The threshold
    reads the session's own ``maxPartitionBytes`` so the decision
    tracks however the deployment sizes its splits.

    A table whose size is unknown (not a local path) is left as it is:
    a remote store scans as many splits, and shuffling it is the cost
    this function exists to avoid.

    Locally the plan is identical to the unconditional repartition
    (every fixture SF is far below the threshold). Results never depend
    on the branch: round-robin placement is not observable in any
    declared query's output (all are aggregations or explicitly
    ordered; parity is hash-checked on sorted rows).

    Use as ``df.transform(spread_input, sf_dir, "documents")``.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    max_split = _conf_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    size = _path_bytes(os.path.join(sf_dir, f"{name}.parquet"))
    if size is None or size >= n * max_split:
        return df
    return df.repartition(n)


def map_rows(
    df: DataFrame,
    schema: T.StructType | str,
    row_fn: Callable[..., tuple],
) -> DataFrame:
    """One output row per row of ``df``: ``row_fn(*values)`` over its
    columns, in ``df.columns`` order, run inside an Arrow-batched map.
    ``schema`` (a StructType or a DDL string such as
    ``"doc_id bigint, n bigint"``) declares the tuple ``row_fn``
    returns, field by field.

    The map function is named ``batches`` because the formatted plan
    prints it: ``MapInPandas`` shows ``batches(doc_id#...)``.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    cols = df.columns
    names = schema.fieldNames()

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = [row_fn(*vals) for vals in zip(*(pdf[c] for c in cols))]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, schema)


def scan_docs(spark: SparkSession, sf_dir: str, cols: tuple[str, ...]) -> DataFrame:
    """The ``cols`` of the ``documents`` table, fanned out by
    :func:`spread_input` so a per-doc map runs on every core."""
    return (
        load_table(spark, sf_dir, "documents")
        .select(*cols)
        .transform(spread_input, sf_dir, "documents")
    )


def sort_by_doc(df: DataFrame) -> DataFrame:
    """``df`` sorted by ``doc_id``, through a ``repartition("doc_id")``
    shuffle barrier placed right after an Arrow map.

    Without the barrier the range exchange's sampling job re-executes
    the whole narrow subtree, so the map would run twice; the
    materialized shuffle is reused by both the sampling and the sort
    job, so it runs once (r16). The barrier carries the map's output
    rows (one per doc), never a decoded payload.

    A map over a stored table reads it straight, with no round-robin
    spread first: the table is written distributed (one file per build
    task), so its scan already yields about core-count splits (r16).
    """
    return df.repartition("doc_id").orderBy("doc_id")


def per_doc_map(
    spark: SparkSession,
    sf_dir: str,
    cols: tuple[str, ...],
    schema: T.StructType | str,
    row_fn: Callable[..., tuple],
) -> DataFrame:
    """One output row per ``documents`` row, sorted by ``doc_id``:
    ``row_fn(*values)`` over the ``cols`` of each row. It is the
    :func:`scan_docs` scan, then the :func:`map_rows` map (whose
    ``schema`` declares the tuple ``row_fn`` returns), then the
    :func:`sort_by_doc` barrier and sort.
    """
    return sort_by_doc(map_rows(scan_docs(spark, sf_dir, cols), schema, row_fn))


def load_binary_corpus(spark: SparkSession, directory: str, glob: str = "*.pdf") -> DataFrame:
    """Directory scan of opaque binary files (reference O1, main.py:258-279).

    Returns (path, modificationTime, length, content:binary). A missing
    directory surfaces as AnalysisException — the engine's analog of the
    reference's 404 (main.py:262-279).
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(directory)
    )
