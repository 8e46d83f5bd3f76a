"""Child process that serves the engine over HTTP for the benchmark.

    python3 perfbench/server_child.py --root . --table T --ready R [--trace]

It builds the session the serving tier runs with (FAIR scheduling),
serves ``EngineAPI`` through ``server.serve`` and writes
``{"port", "ctl_port"}`` to the ready file. A second HTTP listener on
``ctl_port`` belongs to the benchmark:

    POST /trace    {"on": bool}   start or stop recording spans
    GET  /trace                   recorded spans and Spark job stats
    GET  /floor                   wall times of empty noop Spark jobs
    POST /shutdown                stop serving and the session, then exit

With ``--trace`` the launcher wraps calls into the program's public
functions from outside (the program is not edited): ``EngineAPI.search``
and ``EngineAPI.ingest`` on the served instance, and the module-level
``open_serving_index``, ``topk_search_cached`` and ``write_chunk_table``
those methods call. Each wrapped call runs under its own Spark job group,
so the status store attributes jobs, stages and task time to it. Spans
are kept in memory; Spark stats are read from the status store only when
the spans are fetched, after the listener bus has caught up.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import tempfile
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

PACKAGE = "articulation_vector_db_api_spark"


def _table_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a table directory."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Tracer:
    """Spans of wrapped calls, each tied to a Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.on = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count()
        self._local = threading.local()

    def _group(self) -> str | None:
        return getattr(self._local, "group", None)

    def _set_group(self, group: str | None) -> None:
        self._local.group = group
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, "perfbench")

    def span(self, name: str, fn, *args, own_group: bool = True, after=None):
        """Call ``fn(*args)``; when recording, time it as span ``name``
        and (with ``own_group``) run its jobs under a fresh job group.
        ``after(record)`` may add fields before the span is stored."""
        if not self.on:
            return fn(*args)
        parent = self._group()
        group = f"{name}#{next(self._ids)}" if own_group else parent
        if own_group:
            self._set_group(group)
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            t1 = time.perf_counter()
            if own_group:
                self._set_group(parent)
            rec = {"name": name, "group": group, "parent": parent,
                   "start": t0, "end": t1}
            if after is not None:
                after(rec)
            with self._lock:
                self.spans.append(rec)

    def dump(self) -> list[dict]:
        """Recorded spans, each with the Spark stats of its group."""
        with self._lock:
            spans, self.spans = self.spans, []
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        for s in spans:
            if s["group"] is None or s["group"] == s["parent"]:
                continue
            stats = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                     "input_b": 0, "shuffle_write_b": 0, "output_rows": 0}
            for jid in tracker.getJobIdsForGroup(s["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                stats["jobs"] += 1
                for sid in info.stageIds:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - skipped stage, no attempt
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += st.numTasks()
                    stats["run_s"] += st.executorRunTime() / 1e3
                    stats["cpu_s"] += st.executorCpuTime() / 1e9
                    stats["input_b"] += st.inputBytes()
                    stats["shuffle_write_b"] += st.shuffleWriteBytes()
                    stats["output_rows"] += st.outputRecords()
            s["spark"] = stats
        return spans


def install_tracing(api, tracer: Tracer) -> None:
    """Wrap the served instance and the module functions its methods
    call. ``api.py`` binds ``open_serving_index`` and
    ``topk_search_cached`` at import, so they are replaced there;
    ``ingest_corpus`` looks ``write_chunk_table`` up in its own module."""
    import importlib

    api_mod = importlib.import_module(f"{PACKAGE}.api")
    ingest_mod = importlib.import_module(f"{PACKAGE}.operators.ingest")

    orig_open = api_mod.open_serving_index
    orig_plan = api_mod.topk_search_cached
    orig_write = ingest_mod.write_chunk_table
    orig_search, orig_ingest = api.search, api.ingest

    def open_serving_index(spark, table_path, *a):
        return tracer.span("search.warm", orig_open, spark, table_path, *a)

    def topk_search_cached(index, query, top_k=5):
        return tracer.span("search.plan", orig_plan, index, query, top_k,
                           own_group=False)

    def write_chunk_table(chunks, path):
        files0, bytes0 = _table_files(path) if tracer.on else (0, 0)

        def after(rec: dict) -> None:
            files1, bytes1 = _table_files(path)
            rec.update(files_written=files1 - files0,
                       bytes_written=bytes1 - bytes0)

        return tracer.span("ingest.write", orig_write, chunks, path, after=after)

    def search(query, top_k=5):
        return tracer.span("api.search", orig_search, query, top_k)

    def ingest(corpus_dir, table_path, glob="*.pdf"):
        return tracer.span("api.ingest", orig_ingest, corpus_dir, table_path, glob)

    api_mod.open_serving_index = open_serving_index
    api_mod.topk_search_cached = topk_search_cached
    ingest_mod.write_chunk_table = write_chunk_table
    api.search, api.ingest = search, ingest


def noop_floor_ms(spark, n: int = 20) -> list[float]:
    """Wall times of ``n`` empty noop-sink jobs: the per-job floor."""
    def run() -> float:
        t0 = time.perf_counter()
        spark.range(0).write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - t0) * 1e3

    for _ in range(3):
        run()
    return [run() for _ in range(n)]


def _control_server(spark, tracer: Tracer | None, stop: threading.Event):
    class Ctl(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:
            pass

        def _send(self, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802
            if self.path == "/trace":
                self._send(tracer.dump() if tracer else [])
            elif self.path == "/floor":
                self._send(noop_floor_ms(spark))
            else:
                self.send_error(404)

        def do_POST(self) -> None:  # noqa: N802
            n = int(self.headers.get("Content-Length") or 0)
            req = json.loads(self.rfile.read(n) or b"{}")
            if self.path == "/trace" and tracer is not None:
                tracer.on = bool(req.get("on"))
                self._send({"on": tracer.on})
            elif self.path == "/shutdown":
                self._send({})
                stop.set()
            else:
                self.send_error(404)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Ctl)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--ready", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))

    from articulation_vector_db_api_spark.api import EngineAPI
    from articulation_vector_db_api_spark.server import ServerConfig, serve
    from articulation_vector_db_api_spark.session import get_spark

    spark = get_spark("perfbench-serve", {
        "spark.scheduler.mode": "FAIR",
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a traced window in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tempfile.gettempdir()}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    api = EngineAPI(spark=spark, data_dir=args.table)
    tracer = None
    if args.trace:
        tracer = Tracer(spark.sparkContext)
        install_tracing(api, tracer)
    server = serve(api, ServerConfig(table_path=args.table, glob="*.pdf"))
    stop = threading.Event()
    ctl = _control_server(spark, tracer, stop)
    tmp = args.ready + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"port": server.server_address[1],
                   "ctl_port": ctl.server_address[1]}, f)
    os.replace(tmp, args.ready)
    stop.wait()
    server.shutdown()
    ctl.shutdown()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
