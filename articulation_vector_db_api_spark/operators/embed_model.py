"""Pluggable embedding models for the indexing/search path.

The reference hard-codes one embedding function (sha256 scheme,
/root/reference/main.py:129-147). The engine treats the embedder as a
SLOT: anything that can (a) add an ``array<double>`` column to a chunk
DataFrame in a distributed, Arrow-batched way, and (b) embed a query
string on the driver, can power the same index/search operators.

Two implementations:

- :class:`HashEmbedder` — the reference's sha256 scheme (byte-exact
  parity path, the default everywhere else in the engine).
- :class:`NgramProjectionEmbedder` — a deterministic stand-in for a
  real neural model: hashed char-trigram features L2-normalized into a
  fixed dim, computed in numpy inside a ``pandas_udf``. Its ONLY job
  is to prove the slot: swap `_embed_batch` for a sentence-transformer
  (or any torch/onnx model) call and nothing else in the engine
  changes — the UDF is already batch-shaped (one numpy matrix per
  Arrow batch), which is exactly how GPU/accelerated inference wants
  its input.

Design for 100 TB: model inference is the expensive stage, so it runs
once at INGEST (the written index stores vectors); searches embed only
the query string, driver-side. The pandas_udf boundary keeps the
per-batch overhead constant and lets Spark scale inference linearly
with executors.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.chunking import chunk_documents
from ..functions.embedding import hash_embedding_from_hex, hash_embedding_py
from ..functions.vector import dot, l2_norm
from ..sources.readers import load_table, spread_input


class HashEmbedder:
    """The reference's sha256 embedding (main.py:129-147) as a plugin."""

    dim = 1024
    name = "hash_sha256"

    def embed_column(self, text: Column) -> Column:
        return hash_embedding_from_hex(F.sha2(text, 256))

    def embed_query(self, query: str) -> list[float]:
        return hash_embedding_py(query)


class NgramProjectionEmbedder:
    """Deterministic model stand-in: hashed char-trigram bag, signed
    (feature-hashing trick), L2-normalized. Replace `_embed_batch` with
    a real model's batch call to get true semantic vectors — the Spark
    plumbing (Arrow batches in, float64 matrix out) is what a GPU
    inference stage needs and stays untouched."""

    def __init__(self, dim: int = 64):
        self.dim = dim
        self.name = f"ngram_proj_{dim}"

    # -- the "model" ---------------------------------------------------
    def _embed_one(self, text: str) -> np.ndarray:
        v = np.zeros(self.dim, dtype=np.float64)
        t = (text or "").lower()
        for i in range(max(0, len(t) - 2)):
            gram = t[i : i + 3]
            h = hashlib.blake2b(gram.encode("utf-8"), digest_size=8).digest()
            idx = int.from_bytes(h[:4], "big") % self.dim
            sign = 1.0 if h[4] & 1 else -1.0
            v[idx] += sign
        n = float(np.linalg.norm(v))
        return v / n if n > 0 else v

    def _embed_batch(self, texts: pd.Series) -> np.ndarray:
        # REAL-MODEL SLOT: e.g. `return model.encode(texts.tolist())`.
        return np.stack([self._embed_one(t) for t in texts])

    # -- Spark plumbing ------------------------------------------------
    def embed_column(self, text: Column) -> Column:
        @F.pandas_udf("array<double>")
        def _udf(batch: pd.Series) -> pd.Series:
            mat = self._embed_batch(batch)
            return pd.Series(list(mat))

        return _udf(text)

    def embed_query(self, query: str) -> list[float]:
        return [float(x) for x in self._embed_one(query)]


def build_index_with(
    embedder, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """documents → chunk rows embedded by ``embedder`` — the generic
    form of operators/search.py:build_chunk_index."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.transform(spread_input, sf_dir, "documents")
    chunks = chunk_documents(docs, id_col="doc_id", text_col="text")
    return chunks.select(
        F.col("chunk_id").alias("id"),
        "source",
        "pos",
        F.col("chunk_text").alias("text"),
        embedder.embed_column(F.col("chunk_text")).alias("embedding"),
    )


def topk_search_with(
    embedder,
    index: DataFrame,
    query: str,
    top_k: int = 5,
) -> DataFrame:
    """Cosine top-k over an ``embedder``-built index. The query vector
    inlines as literals (constant for the whole job); scoring is the
    same cosine fold regardless of which model produced the stored
    vectors (``CodegenFallback``: Spark evaluates it interpreted)."""
    qv = embedder.embed_query(query)
    qnorm = math.sqrt(sum(x * x for x in qv)) or 1.0
    qvec = F.array(*[F.lit(float(v)) for v in qv])
    emb = F.col("embedding")
    score = dot(emb, qvec) / (l2_norm(emb) * F.lit(qnorm))
    return (
        index.filter(F.length("text") > 0)
        .select("id", "source", "text", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(top_k)
    )
