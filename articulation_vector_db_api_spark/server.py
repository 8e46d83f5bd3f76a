"""Stdlib HTTP serving tier — the reference's FastAPI surface
(/root/reference/main.py:219-365) as a dependency-free
``http.server`` app over :class:`~.api.EngineAPI`.

Route-for-route twin:

    GET  /          → {"status", "service", "index"}        (main.py:219-226)
    GET  /health    → healthy / degraded, never raises      (main.py:228-253)
    POST /ingest    → IngestResponse shape                  (main.py:255-311)
    POST /search    → QueryResponse shape; 400 on empty     (main.py:314-333)
    POST /query     → alias of /search                      (main.py:335-338)
    GET  /stats     → {"index_name", "stats"}               (main.py:340-360)

plus the engine-native admin surface (no reference twin — Pinecone owns
storage there): GET /snapshots, POST /compact.

Error shape mirrors FastAPI's ``HTTPException``: a JSON body
``{"detail": ...}`` with the matching status code (400 empty query,
404 unknown route / missing corpus, 500 engine failure).

Design: the serving tier is deliberately thin — every endpoint is one
``EngineAPI`` call. A warmed /search over a table that fits one cached
partition runs no Spark job: it scores the driver-resident serving
index (``operators.search.open_serving_index``), and /ingest into the
served table merges the rows it writes into that index, so the next
/search sees them without re-reading the table. Other endpoints, and
/search over larger tables, run short Spark jobs. ``ThreadingHTTPServer``
gives request concurrency; Spark sessions are thread-safe for job
submission, and the scheduler (FAIR at deployment) interleaves the
short serving jobs. CPU work in a handler holds the driver's GIL, so
the hot path keeps its numpy calls O(1) per request (per 4096-row block
of the serving index). This tier exists for surface parity and
smoke-level serving, not as a production gateway: at deployment the
same ``EngineAPI`` sits behind a real ASGI server, unchanged.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .api import EngineAPI
from .sources.readers import table_absent

SERVICE_NAME = "College PDF Vector Database API"  # main.py:223


@dataclass
class ServerConfig:
    """Paths the HTTP tier serves against (the reference hard-codes its
    one index name + corpus dir; here they are explicit)."""

    table_path: str
    corpus_dir: str = ""
    glob: str = "*"
    # default stored-IVF location for the /vectors/* admin verbs
    # (requests may override per-call via "store")
    vector_store_path: str = ""


class _Handler(BaseHTTPRequestHandler):
    # injected by serve(): api: EngineAPI, cfg: ServerConfig
    api: EngineAPI
    cfg: ServerConfig

    # -- plumbing ------------------------------------------------------
    def log_message(self, *args) -> None:  # quiet test output
        pass

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        if n == 0:
            return {}
        try:
            return json.loads(self.rfile.read(n) or b"{}")
        except json.JSONDecodeError:
            return {}

    # -- routes --------------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802 (http.server contract)
        try:
            if self.path == "/":
                self._send(200, {
                    "status": "healthy",
                    "service": SERVICE_NAME,
                    "index": self.cfg.table_path,
                })
            elif self.path == "/health":
                self._send(200, self.api.health(self.cfg.table_path))
            elif self.path == "/stats":
                try:
                    self._send(200, self.api.stats(self.cfg.table_path))
                except Exception as e:  # noqa: BLE001 — main.py:356-360
                    self._send(200, {
                        "index_name": self.cfg.table_path,
                        "error": str(e),
                        "message": "Index may not exist or be accessible. "
                        "Use /ingest to create and populate the index.",
                    })
            elif self.path == "/snapshots":
                self._send(200, self.api.snapshots(self.cfg.table_path))
            else:
                self._send(404, {"detail": "Not Found"})
        except Exception as e:  # noqa: BLE001
            self._send(500, {"detail": str(e)})

    def do_POST(self) -> None:  # noqa: N802
        req = self._body()
        try:
            if self.path in ("/search", "/query"):
                query = str(req.get("query", ""))
                if not query.strip():  # main.py:317-318
                    self._send(400, {"detail": "Query cannot be empty"})
                    return
                top_k = int(req.get("top_k", 5))
                self._send(200, self.api.search(query, top_k))
            elif self.path == "/ingest":
                corpus = str(req.get("corpus_dir") or self.cfg.corpus_dir)
                if not corpus or not os.path.isdir(corpus):
                    self._send(
                        404, {"detail": f"PDF not found: {corpus or '<unset>'}"}
                    )
                    return
                self._send(200, self.api.ingest(
                    corpus,
                    self.cfg.table_path,
                    str(req.get("glob") or self.cfg.glob),
                ))
            elif self.path == "/compact":
                self._send(200, self.api.compact(self.cfg.table_path))
            elif self.path == "/vectors/upsert":
                self._send(200, self.api.vectors_upsert(
                    str(req.get("store") or self.cfg.vector_store_path),
                    list(req.get("vectors") or []),
                    int(req["n_cells"]) if "n_cells" in req else None,
                ))
            elif self.path == "/vectors/delete":
                self._send(200, self.api.vectors_delete(
                    str(req.get("store") or self.cfg.vector_store_path),
                    list(req.get("ids") or []),
                    bool(req.get("purge", False)),
                    int(req["n_cells"]) if "n_cells" in req else None,
                ))
            elif self.path == "/vectors/query":
                vec = req.get("vector")
                if not vec:
                    self._send(400, {"detail": "vector is required"})
                    return
                self._send(200, self.api.vectors_query(
                    str(req.get("store") or self.cfg.vector_store_path),
                    vec,
                    int(req.get("top_k", 5)),
                    int(req.get("nprobe", 2)),
                ))
            else:
                self._send(404, {"detail": "Not Found"})
        except Exception as e:  # noqa: BLE001 — main.py:333
            self._send(500, {"detail": f"Search failed: {e}"}
                       if self.path in ("/search", "/query")
                       else {"detail": str(e)})


def serve(
    api: EngineAPI, cfg: ServerConfig, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Start the HTTP tier on a daemon thread; returns the server (its
    bound port is ``server.server_address[1]``). ``shutdown()`` stops it.

    The served /search reads the configured chunk table (the
    reference's steady-state: queries hit the persisted index,
    main.py:176-216) through the API's pre-warmed serving index, which
    each /ingest into the table updates; until an ingest creates a
    local or ``file://`` table, searches fall back to the API's
    raw-documents path. Any other URI table (``s3a://``, ``hdfs://``)
    is never known to be absent, so it is warmed at start-up and must
    exist."""
    if api.chunk_table is None:
        api.chunk_table = cfg.table_path
        if not table_absent(cfg.table_path):
            api.warm()  # O15 bootstrap: don't let request 1 pay the scan
    handler = type("BoundHandler", (_Handler,), {"api": api, "cfg": cfg})
    server = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server


def main() -> int:
    """CLI entry: ``python -m articulation_vector_db_api_spark.server
    [table_path] [corpus_dir] [port]`` — serve the engine over HTTP the
    way the reference serves uvicorn (main.py:363-365)."""
    import sys

    from .session import get_spark

    table = sys.argv[1] if len(sys.argv) > 1 else "spark-warehouse/chunks"
    corpus = sys.argv[2] if len(sys.argv) > 2 else ""
    port = int(sys.argv[3]) if len(sys.argv) > 3 else 8000
    api = EngineAPI(spark=get_spark("engine-http"), data_dir=corpus or ".")
    server = serve(
        api, ServerConfig(table_path=table, corpus_dir=corpus),
        host="0.0.0.0", port=port,
    )
    print(f"serving on :{server.server_address[1]} (table={table})")
    try:
        while True:
            import time

            time.sleep(3600)
    except KeyboardInterrupt:
        server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
