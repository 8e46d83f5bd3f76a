"""Serving-surface parity: stats / health / query validation
(reference O11-O15, /root/reference/main.py:228-253, 314-360).

The reference's serving layer is FastAPI over a remote index; the
engine's equivalents are catalog introspection and short local jobs.
No HTTP server here by design — the engine is a library; any serving
tier calls these functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .search import read_chunk_table, validate_query  # noqa: F401


def index_stats(chunks: DataFrame) -> dict:
    """describe_index_stats analog (O12, main.py:340-360): total vector
    count, dimension, per-source (namespace) counts — one short job."""
    dim_row = chunks.select(F.size("embedding").alias("d")).first()
    per_source = {
        r.source: r.n
        for r in chunks.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {
        "total_vector_count": sum(per_source.values()),
        "dimension": dim_row.d if dim_row else 0,
        "namespaces": per_source,
    }


def health(spark: SparkSession, table_path: str) -> dict:
    """Three-state health report (O13, main.py:228-253): healthy /
    degraded-with-message, never raises."""
    try:
        n = read_chunk_table(spark, table_path).count()
        return {"status": "healthy", "index": table_path, "vector_count": n}
    except Exception as e:  # noqa: BLE001 - health endpoints must not raise
        return {
            "status": "degraded",
            "index": None,
            "message": f"Chunk table not available: {type(e).__name__}",
        }
