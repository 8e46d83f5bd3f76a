"""spread_input (sources/readers.py): fan out the single-split local
fixture, but NEVER shuffle an input that already scans as >= core-count
splits (guide §2.4 — at 100 TB the blanket round-robin repartition the
suites used to carry would move the full corpus payload for nothing).
"""

from __future__ import annotations

import os

from articulation_vector_db_api_spark.sources import readers

SF = "/root/testdata/sf0.001"


def test_small_fixture_is_spread(spark):
    df = readers.load_table(spark, SF, "documents").select("doc_id", "text")
    out = readers.spread_input(df, SF, "documents")
    assert out is not df
    n = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == n
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan or "roundrobin" in plan.lower()


def test_large_input_is_not_shuffled(spark):
    """A table at/above defaultParallelism * maxPartitionBytes provably
    scans as >= defaultParallelism file partitions; spread_input must
    return the frame untouched (no round-robin exchange)."""
    path = os.path.join(SF, "documents.parquet")
    df = readers.load_table(spark, SF, "documents").select("doc_id", "text")
    old = readers._TABLE_BYTES.get(path)
    readers._TABLE_BYTES[path] = 100 * (1 << 40)  # simulate a 100 TiB table
    try:
        out = readers.spread_input(df, SF, "documents")
        assert out is df  # the identical object: zero plan change
    finally:
        if old is None:
            readers._TABLE_BYTES.pop(path, None)
        else:
            readers._TABLE_BYTES[path] = old


def test_threshold_uses_session_max_partition_bytes(spark):
    """The decision tracks spark.sql.files.maxPartitionBytes, not a
    constant: raising the split size raises the spread threshold."""
    n = spark.sparkContext.defaultParallelism
    max_split = readers._conf_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    path = os.path.join(SF, "documents.parquet")
    df = readers.load_table(spark, SF, "documents")
    old = readers._TABLE_BYTES.get(path)
    try:
        readers._TABLE_BYTES[path] = n * max_split  # exactly at threshold
        assert readers.spread_input(df, SF, "documents") is df
        readers._TABLE_BYTES[path] = n * max_split - 1  # just below
        assert readers.spread_input(df, SF, "documents") is not df
    finally:
        if old is None:
            readers._TABLE_BYTES.pop(path, None)
        else:
            readers._TABLE_BYTES[path] = old


def test_conf_bytes_parses_suffixed_values():
    assert readers._conf_bytes("134217728") == 134217728
    assert readers._conf_bytes("128m") == 128 * (1 << 20)
    assert readers._conf_bytes("128MB") == 128 * (1 << 20)
    assert readers._conf_bytes("1g") == 1 << 30


def test_unknown_size_is_not_shuffled(spark):
    """A table whose size cannot be probed (a remote URI such as
    s3a:// or hdfs://) is treated as large: spread_input must not
    round-robin the whole corpus."""
    df = readers.load_table(spark, SF, "documents").select("doc_id", "text")
    assert readers._path_bytes("s3a://bucket/sf/documents.parquet") is None
    assert readers.spread_input(df, "s3a://bucket/sf", "documents") is df


def test_hidden_directories_are_not_counted(tmp_path):
    """The size probe counts the files Spark reads: a writer's
    ``_temporary`` directory and ``.``/``_`` sidecars are left out,
    while a partition directory named ``_x=1`` is read."""
    table = tmp_path / "t"
    for rel, n in [("part-0.parquet", 100), ("_x=1/part-1.parquet", 20),
                   ("_SUCCESS", 0), (".part-0.parquet.crc", 7),
                   ("_temporary/0/part-2.parquet", 5000)]:
        (table / rel).parent.mkdir(parents=True, exist_ok=True)
        (table / rel).write_bytes(b"x" * n)
    path, absent = str(table), str(tmp_path / "absent")
    try:
        assert readers._path_bytes(path) == 120
        assert readers._path_bytes(absent) is None
    finally:
        readers._TABLE_BYTES.pop(path, None)
        readers._TABLE_BYTES.pop(absent, None)
