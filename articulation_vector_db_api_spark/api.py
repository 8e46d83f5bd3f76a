"""Service-surface twin of the reference API.

A user of the reference calls POST /search, POST /query, POST /ingest,
GET /stats, GET /health (/root/reference/main.py:219-360); this module
exposes the same request/response shapes as plain Python callables over
the engine, so an HTTP tier (or a notebook) can swap in directly.
Response dict shapes mirror the Pydantic models (main.py:81-103).

As in the reference, where /ingest upserts into the live index and the
next query sees the new vectors (main.py:163-172), an ingest into the
served chunk table updates the driver-resident serving index from the
rows it has just written; it does not re-read the table.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .operators.search import (
    DEFAULT_TOP_K,
    ServingIndex,
    open_serving_index,
    read_chunk_table,
    topk_search,
    topk_search_cached,
    validate_query,
)
from .sources.readers import table_absent, table_files


@dataclass
class EngineAPI:
    spark: SparkSession
    data_dir: str
    # steady-state serving: when a written chunk table is named, /search
    # reads it through a pre-warmed cached projection (the reference's
    # ingest-once/query-many shape, main.py:60-76). Without one, /search
    # computes over the raw documents in data_dir (the cold path).
    chunk_table: str | None = None
    # a driver-resident ServingIndex when the table fits one cached
    # partition, else a persisted DataFrame (open_serving_index)
    _serving: DataFrame | ServingIndex | None = field(
        default=None, repr=False, compare=False
    )
    # table_files(chunk_table) as of the data _serving holds: taken
    # before a warm reads the table and after an ingest merges a batch.
    # An ingest whose pre-write listing differs (a write, /compact or a
    # deletion outside EngineAPI.ingest) re-warms instead of merging.
    _serving_files: dict | None = field(
        default=None, repr=False, compare=False
    )
    # serve() runs searches that need Spark on executor threads:
    # without the lock, two of them racing a post-ingest invalidation
    # both see _serving None and both warm() — one build wins the slot,
    # the loser's persisted projection leaks in the Spark cache forever
    _warm_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )
    # one ingest into the served table at a time, so each merge starts
    # from the index of the table as the previous ingest left it
    _ingest_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )
    # per thread: the index pinned() holds for that thread's searches
    _pin: threading.local = field(
        default_factory=threading.local, repr=False, compare=False
    )

    def warm(self, table_path: str | None = None) -> "EngineAPI":
        """O15 bootstrap: open (or re-open) the serving index over the
        stored chunk table so the first /search doesn't pay the scan."""
        with self._warm_lock:
            if table_path is not None:
                self.chunk_table = table_path
            if self.chunk_table is None:
                raise ValueError("warm() needs a chunk_table path")
            self._invalidate_locked()
            self._warm_locked()
        return self

    def _warm_locked(self) -> None:
        files = table_files(self.chunk_table)  # before the read: see above
        self._serving = open_serving_index(self.spark, self.chunk_table)
        self._serving_files = files

    def _invalidate(self) -> None:
        with self._warm_lock:
            self._invalidate_locked()

    def _invalidate_locked(self) -> None:
        if isinstance(self._serving, DataFrame):
            self._serving.unpersist()
        self._serving = None
        self._serving_files = None

    def local_index(self) -> ServingIndex | None:
        """The driver-resident serving index, when the API holds one: a
        search over it starts no Spark job."""
        serving = self._serving
        return serving if isinstance(serving, ServingIndex) else None

    @contextmanager
    def pinned(self, index: ServingIndex) -> Iterator[None]:
        """Searches made on this thread inside the block score ``index``.
        A caller that got it from :meth:`local_index` can then search
        with no Spark job, though a concurrent ingest may drop or
        replace ``_serving`` between that check and the search."""
        self._pin.index = index
        try:
            yield
        finally:
            self._pin.index = None

    def _topk(self, query: str, top_k: int) -> DataFrame | list:
        pinned = getattr(self._pin, "index", None)
        if pinned is not None:
            return topk_search_cached(pinned, query, top_k)
        if self.chunk_table and (
            self._serving is not None or not table_absent(self.chunk_table)
        ):
            serving = self._serving
            if serving is None:
                with self._warm_lock:
                    if self._serving is None:  # double-checked: one build
                        if self.chunk_table is None:
                            raise ValueError("warm() needs a chunk_table")
                        self._warm_locked()
                    serving = self._serving
            return topk_search_cached(serving, query, top_k)
        return topk_search(self.spark, self.data_dir, query, top_k)

    def search(self, query: str, top_k: int = DEFAULT_TOP_K) -> dict:
        """POST /search twin (main.py:314-333): QueryResponse{query,
        chunks, total_results, context}."""
        validate_query(query)
        topk = self._topk(query, top_k)
        # At most one distributed job (none over a driver-resident
        # index): the ≤ top_k rows already carry everything the context
        # string needs, so assemble it driver-side (same format as
        # operators.search.assemble_context, which stays the distributed
        # path for the driver-visible query) instead of re-executing the
        # scoring plan a second time.
        if isinstance(topk, DataFrame):
            topk = topk.collect()
        # (id, source, text, score) by position: a Row field read by
        # name is a list.index over its field names
        rows = sorted(map(tuple, topk), key=lambda r: (-r[3], r[0]))
        return {
            "query": query,
            "chunks": [
                # ChunkResult shape, main.py:81-85
                {"text": text, "source": source, "score": score, "id": rid}
                for rid, source, text, score in rows
            ],
            "total_results": len(rows),
            "context": "\n\n---\n\n".join(
                f"[Source: {source}]\n{text}" for _, source, text, _ in rows
            ),
        }

    def query(self, query: str, top_k: int = DEFAULT_TOP_K) -> dict:
        """POST /query is a verbatim alias of /search (main.py:335-338)."""
        return self.search(query, top_k)

    def ingest(self, corpus_dir: str, table_path: str, glob: str = "*.pdf") -> dict:
        """POST /ingest twin (main.py:255-311): IngestResponse shape."""
        from .operators.ingest import ingest_corpus

        if self.chunk_table and table_path == self.chunk_table:
            with self._ingest_lock:
                result = self._ingest_served(corpus_dir, table_path, glob)
        else:
            result = ingest_corpus(self.spark, corpus_dir, table_path, glob)
        failed = result["files_failed"]
        suffix = f" ({failed} files failed)" if failed else ""
        return {
            "message": f"Successfully ingested {result['files_processed']} PDFs{suffix}",
            "ingested_count": result["ingested_count"],
            # IngestResponse.pdfs_processed is a List[str] of source
            # titles in the reference (main.py:103,311), not a count.
            "pdfs_processed": result["sources_processed"],
        }

    def _ingest_served(self, corpus_dir: str, table_path: str, glob: str) -> dict:
        """Ingest into the served table and keep the serving index in
        step. The written batch is merged into the current index when
        that index is a :class:`ServingIndex` of the table's present
        files (an absent table is an empty one) and the merged table
        still fits one partition. Otherwise the index is dropped and the
        next /search re-warms it from the table."""
        from .operators.ingest import ingest_corpus

        with self._warm_lock:
            base = self._merge_base_locked(table_path)
        result = ingest_corpus(
            self.spark, corpus_dir, table_path, glob, serving_base=base
        )
        serving = result.pop("serving", None)
        # refresh Spark's file-listing cache for the path either way
        self.spark.catalog.refreshByPath(table_path)
        with self._warm_lock:
            self._invalidate_locked()
            if serving is not None:
                self._serving_files, self._serving = serving
        return result

    def _merge_base_locked(self, table_path: str) -> ServingIndex | None:
        """The index an ingest into ``table_path`` merges into: an empty
        one when there is no table yet, the current index when it is a
        :class:`ServingIndex` of the table's present files, else None.
        Only the second case lists the table, so a write to a table the
        merge cannot serve (a persisted DataFrame index) walks nothing."""
        if table_absent(table_path):  # the batch is all of the table
            return ServingIndex.empty()
        if isinstance(self._serving, ServingIndex):
            files = table_files(table_path)
            if files is not None and files == self._serving_files:
                return self._serving
        return None

    def stats(self, table_path: str) -> dict:
        """GET /stats twin (main.py:340-360)."""
        from .operators.stats import index_stats

        chunks = read_chunk_table(self.spark, table_path)
        return {"index_name": table_path, "stats": index_stats(chunks)}

    def health(self, table_path: str) -> dict:
        """GET /health twin (main.py:228-253)."""
        from .operators.stats import health as _health

        return _health(self.spark, table_path)

    # -- engine-native admin surface (no reference twin: Pinecone owns
    #    storage there, main.py:21-44; a parquet warehouse owns its own
    #    layout and history) --

    def snapshots(self, table_path: str) -> dict:
        """GET /snapshots: the table's version history + current pin."""
        from .operators.maintenance import read_manifest

        man = read_manifest(table_path)
        return {"table": table_path, "current": man["current"],
                "versions": man["versions"]}

    def compact(self, table_path: str, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """POST /compact: bin-pack the current snapshot into ~target-size
        files, published as a new rollback-able version."""
        from .operators.maintenance import compact_snapshot, read_manifest

        version = compact_snapshot(self.spark, table_path, target_file_bytes)
        return {"table": table_path, "new_version": version,
                "n_files": read_manifest(table_path)["versions"][str(version)]["n_files"]}

    # -- vector-index admin (the reference's Pinecone index verbs,
    # exposed: upsert main.py:172, query main.py:184-189; delete is the
    # third verb that index supports but the reference never surfaces) --

    def vectors_upsert(
        self, store_path: str, vectors: list[dict],
        n_cells: int | None = None,
    ) -> dict:
        """POST /vectors/upsert: last-write-wins keyed upsert into the
        stored IVF index (O6 semantics against the engine's own store
        instead of a managed service)."""
        from pyspark.sql.types import (
            ArrayType, FloatType, LongType, StructField, StructType,
        )

        from .operators.vector_store import upsert_ivf_store

        schema = StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ])
        df = self.spark.createDataFrame(
            [(int(v["vec_id"]), [float(x) for x in v["embedding"]])
             for v in vectors],
            schema,
        )
        upsert_ivf_store(self.spark, df, store_path, n_cells)
        return {"store": store_path, "upserted": len(vectors)}

    def vectors_delete(
        self, store_path: str, ids: list[int], purge: bool = False,
        n_cells: int | None = None,
    ) -> dict:
        """POST /vectors/delete: logical tombstone delete; ``purge``
        additionally rewrites the affected cells now."""
        from .operators.vector_store import (
            delete_from_ivf_store, purge_ivf_tombstones,
        )

        delete_from_ivf_store(self.spark, store_path, [int(i) for i in ids])
        purged = (
            purge_ivf_tombstones(self.spark, store_path, n_cells)
            if purge else []
        )
        return {"store": store_path, "deleted": len(ids),
                "purged_cells": purged}

    def vectors_query(
        self, store_path: str, vector: list[float], top_k: int = DEFAULT_TOP_K,
        nprobe: int = 2,
    ) -> dict:
        """POST /vectors/query: cosine top-k against the stored IVF
        index (the reference's index.query shape — matches list of
        {id, score}), reading only nprobe cells."""
        from .operators.vector_store import probe_ivf_store

        rows = probe_ivf_store(
            self.spark, store_path, [float(x) for x in vector],
            nprobe=nprobe, k=top_k,
        ).collect()
        return {
            "matches": [
                {"id": int(r.vec_id), "score": float(r.score)} for r in rows
            ],
            "total_results": len(rows),
        }
