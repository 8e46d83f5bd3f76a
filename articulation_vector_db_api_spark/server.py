"""Stdlib HTTP serving tier — the reference's FastAPI surface
(/root/reference/main.py:219-365) as a dependency-free ``asyncio`` app
over :class:`~.api.EngineAPI`.

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
``{"detail": ...}`` with the matching status code (400 empty query or
malformed request, 404 unknown route / missing corpus, 500 engine
failure, 501 unsupported method).

Design: the serving tier is deliberately thin — every endpoint is one
``EngineAPI`` call, made by :func:`_route`. One ``asyncio`` event loop
on a daemon thread reads every connection without blocking, one
HTTP/1.0 request per connection, as the reference's uvicorn runs one
loop. A /search or /query is answered on the loop itself when the API
holds a driver-resident :class:`~.operators.search.ServingIndex`: it
scores that index with numpy (about 0.3 ms over 800 rows) and starts
no Spark job (``EngineAPI.pinned`` keeps it on the index the loop checked,
whatever a concurrent ingest swaps in). Every other request — /ingest,
/stats, /health, the admin verbs, and a /search that would start Spark
(a persisted index above one partition, a first warm, the raw-documents
path) — runs on the loop's default executor: at most
``min(32, cpus + 4)`` of them run at once and the rest wait in its
queue, while the loop keeps answering in-process searches. Spark
sessions are thread-safe for job submission, and the scheduler (FAIR
at deployment) interleaves those jobs. This tier exists for surface
parity and smoke-level serving, not as a production gateway: at
deployment the same ``EngineAPI`` sits behind a real ASGI server,
unchanged.
"""

from __future__ import annotations

import asyncio
import json
import os
import socket
import threading
from dataclasses import dataclass
from http import HTTPStatus

from .api import EngineAPI
from .sources.readers import table_absent

SERVICE_NAME = "College PDF Vector Database API"  # main.py:223
SEARCH_PATHS = ("/search", "/query")
LINE_LIMIT = 65536  # bytes in the request line or one header line
MAX_HEADERS = 100
LINGER_S = 1.0  # how long a 400's connection reads on before it closes


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


def _route(
    api: EngineAPI, cfg: ServerConfig, method: str, path: str, body: bytes
) -> tuple[int, dict]:
    """One request → ``(status, payload)``; never raises."""
    try:
        if method == "GET":
            return _get(api, cfg, path)
        return _post(api, cfg, path, _json(body))
    except Exception as e:  # noqa: BLE001 — main.py:333
        return 500, ({"detail": f"Search failed: {e}"} if path in SEARCH_PATHS
                     else {"detail": str(e)})


def _json(body: bytes):
    try:
        return json.loads(body or b"{}")
    except ValueError:  # not JSON, or not UTF-8: an empty request
        return {}


def _get(api: EngineAPI, cfg: ServerConfig, path: str) -> tuple[int, dict]:
    if path == "/":
        return 200, {
            "status": "healthy",
            "service": SERVICE_NAME,
            "index": cfg.table_path,
        }
    if path == "/health":
        return 200, api.health(cfg.table_path)
    if path == "/stats":
        try:
            return 200, api.stats(cfg.table_path)
        except Exception as e:  # noqa: BLE001 — main.py:356-360
            return 200, {
                "index_name": cfg.table_path,
                "error": str(e),
                "message": "Index may not exist or be accessible. "
                "Use /ingest to create and populate the index.",
            }
    if path == "/snapshots":
        return 200, api.snapshots(cfg.table_path)
    return 404, {"detail": "Not Found"}


def _post(
    api: EngineAPI, cfg: ServerConfig, path: str, req: dict
) -> tuple[int, dict]:
    if path in SEARCH_PATHS:
        query = str(req.get("query", ""))
        if not query.strip():  # main.py:317-318
            return 400, {"detail": "Query cannot be empty"}
        return 200, api.search(query, int(req.get("top_k", 5)))
    if path == "/ingest":
        corpus = str(req.get("corpus_dir") or cfg.corpus_dir)
        if not corpus or not os.path.isdir(corpus):
            return 404, {"detail": f"PDF not found: {corpus or '<unset>'}"}
        return 200, api.ingest(
            corpus, cfg.table_path, str(req.get("glob") or cfg.glob)
        )
    if path == "/compact":
        return 200, api.compact(cfg.table_path)
    if path == "/vectors/upsert":
        return 200, api.vectors_upsert(
            str(req.get("store") or cfg.vector_store_path),
            list(req.get("vectors") or []),
            int(req["n_cells"]) if "n_cells" in req else None,
        )
    if path == "/vectors/delete":
        return 200, api.vectors_delete(
            str(req.get("store") or cfg.vector_store_path),
            list(req.get("ids") or []),
            bool(req.get("purge", False)),
            int(req["n_cells"]) if "n_cells" in req else None,
        )
    if path == "/vectors/query":
        vec = req.get("vector")
        if not vec:
            return 400, {"detail": "vector is required"}
        return 200, api.vectors_query(
            str(req.get("store") or cfg.vector_store_path),
            vec,
            int(req.get("top_k", 5)),
            int(req.get("nprobe", 2)),
        )
    return 404, {"detail": "Not Found"}


class _BadRequest(Exception):
    """A request the tier cannot parse: answered 400, then closed."""


async def _readline(reader: asyncio.StreamReader) -> bytes:
    try:
        return await reader.readline()
    except ValueError:  # the line ran past the reader's limit
        raise _BadRequest(f"Request line or header over {LINE_LIMIT} bytes") from None


async def _read_request(
    reader: asyncio.StreamReader,
) -> tuple[str, str, bytes] | None:
    """``(method, path, body)`` of one HTTP/1.0 request; None when the
    client closes the connection before the request ends."""
    line = await _readline(reader)
    if not line:
        return None
    words = line.decode("latin-1").split()
    if len(words) != 3 or not words[2].startswith("HTTP/"):
        raise _BadRequest(f"Bad request syntax ({line.rstrip()!r})")
    method, path, _version = words
    length = 0
    for _ in range(MAX_HEADERS + 1):
        line = await _readline(reader)
        if not line:
            return None
        if line in (b"\r\n", b"\n"):
            break
        name, _, value = line.partition(b":")
        if name.strip().lower() == b"content-length":
            try:
                length = int(value)
            except ValueError:
                length = -1
            if length < 0:
                raise _BadRequest(f"Bad Content-Length ({value.strip()!r})")
    else:
        raise _BadRequest(f"More than {MAX_HEADERS} headers")
    try:
        body = await reader.readexactly(length)
    except asyncio.IncompleteReadError:
        return None
    return method, path, body


async def _discard(reader: asyncio.StreamReader) -> None:
    while await reader.read(LINE_LIMIT):
        pass


def _response(status: int, payload: dict) -> bytes:
    body = json.dumps(payload).encode("utf-8")
    return (
        f"HTTP/1.0 {status} {HTTPStatus(status).phrase}\r\n"
        "Content-Type: application/json\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("latin-1") + body


class LoopServer:
    """The HTTP tier on one ``asyncio`` loop (see the module docstring).
    The listening socket is bound when this returns; ``server_address``
    is its ``(host, port)``. ``shutdown()`` closes it and stops the
    loop; requests still running on the executor finish unanswered."""

    def __init__(self, api: EngineAPI, cfg: ServerConfig, host: str, port: int):
        self.api, self.cfg = api, cfg
        self._sock = socket.create_server((host, port))
        self.server_address = self._sock.getsockname()[:2]
        self._loop = asyncio.new_event_loop()
        self._stopped = self._loop.create_future()
        self.thread = threading.Thread(
            target=self._run, name="http-loop", daemon=True
        )
        self.thread.start()

    def _run(self) -> None:
        try:
            self._loop.run_until_complete(self._serve())
        finally:
            self._loop.close()

    async def _serve(self) -> None:
        server = await asyncio.start_server(
            self._handle, sock=self._sock, limit=LINE_LIMIT
        )
        try:
            await self._stopped
        finally:
            server.close()
            handlers = asyncio.all_tasks() - {asyncio.current_task()}
            for t in handlers:
                t.cancel()
            await asyncio.gather(*handlers, return_exceptions=True)

    async def _handle(
        self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter
    ) -> None:
        try:
            try:
                req = await _read_request(reader)
            except _BadRequest as e:
                writer.write(_response(400, {"detail": str(e)}))
                writer.write_eof()
                # read what the client still sends: closing with it
                # unread would reset the connection before the client
                # reads the 400
                await asyncio.wait_for(_discard(reader), LINGER_S)
                return
            if req is not None:
                writer.write(_response(*await self._answer(*req)))
                await writer.drain()
        except (ConnectionError, asyncio.TimeoutError):
            pass
        finally:
            writer.close()

    async def _answer(self, method: str, path: str, body: bytes) -> tuple[int, dict]:
        if method not in ("GET", "POST"):
            return 501, {"detail": f"Unsupported method ({method!r})"}
        if method == "POST" and path in SEARCH_PATHS:
            index = self.api.local_index()
            if index is not None:  # no Spark job: answer on the loop
                with self.api.pinned(index):
                    return _route(self.api, self.cfg, method, path, body)
        return await self._loop.run_in_executor(
            None, _route, self.api, self.cfg, method, path, body
        )

    def shutdown(self) -> None:
        if self.thread.is_alive():
            self._loop.call_soon_threadsafe(
                lambda: self._stopped.done() or self._stopped.set_result(None)
            )
            self.thread.join()

    def server_close(self) -> None:
        self.shutdown()


def serve(
    api: EngineAPI, cfg: ServerConfig, host: str = "127.0.0.1", port: int = 0
) -> LoopServer:
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
    return LoopServer(api, cfg, host, port)


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
        server.thread.join()
    except KeyboardInterrupt:
        server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
