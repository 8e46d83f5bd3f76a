"""End-to-end benchmark of the engine's HTTP serving tier.

    python3 perfbench/run.py --workload serve_search --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The engine runs in a child process
(``perfbench/server_child.py``) at ``SPARK_GRAFT_CPUS`` = the cores this
process may use; all load comes from this process, with at most that
many client threads, each opening one connection per request.

Workloads (inputs come from ``--seed`` only; see ``gen.py``):

- ``serve_search``: closed loop, one search client per core, against
  the seeded corpus ingested and warmed during set-up.
- ``search_with_ingest``: closed loop, one search client per core but
  one, plus one closed-loop writer that ingests a fresh 20-document slice
  into the served table, invalidating the serving index each time. The
  window ends when the writer's last ingest completes.

Set-up (counted in ``setup_s``): start the server, then three cycles of
"empty the table, ingest the corpus, first search (warms the index)";
``setup_s`` is the start-up time plus the median cycle.

Prints a report, then one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced
run measures four segments (untraced, traced, traced, untraced) and
reports the difference of the two medians as ``trace.overhead_pct``.
See README.md for every metric.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time
from collections import Counter
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import percentile, supported_tail  # noqa: E402

PACKAGE = "articulation_vector_db_api_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

N_DOCS = 80  # corpus size; sized so set-up fits the per-run budget
MIN_CHARS, MAX_CHARS = 1500, 14000
SLICE_DOCS = 20
SETUP_CYCLES = 3
WARMUP_S = 3.0
DRIVER_MEM = "2g"
RUN_BUDGET_S = 170  # a run must end within 180 s; the server's shutdown comes after
QUERY_KEYS = {"query", "chunks", "total_results", "context"}
CHUNK_KEYS = {"text", "source", "score", "id"}
# The gated tail percentile per workload. A 15 s run of the seed tree
# leaves at least ten samples beyond it (see stats.supported_tail). On
# search_with_ingest, p90 falls among the few searches that waited part
# of a re-warm of the serving index, each for however much of it was
# left, so it jumps from run to run; p75 stays below them.
TAIL_P = {"serve_search": 90.0, "search_with_ingest": 75.0}


def cores() -> int:
    return len(os.sched_getaffinity(0))


# -- HTTP -----------------------------------------------------------------

def call(port: int, method: str, path: str, payload=None, timeout: float = 120):
    """One request on a fresh connection -> (status, decoded JSON body)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        body = None if payload is None else json.dumps(payload)
        headers = {} if body is None else {"Content-Type": "application/json"}
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


# -- the server child and its process tree --------------------------------

def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def _memory_bytes(pid: int) -> tuple[int, int]:
    """(RSS, PSS) of one process. PSS splits each shared page among the
    processes mapping it, so Python workers forked from one daemon are
    not counted once per fork; RSS counts every mapping in full."""
    rss = pss = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Rss:"):
                    rss = int(line.split()[1]) * 1024
                elif line.startswith("Pss:"):
                    pss = int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss, pss


class Server:
    """The engine in a child process of its own session, so the whole
    tree (Python driver, JVM, Python workers) can be measured and
    stopped together."""

    def __init__(self, table: str, trace: bool):
        self.table = table
        self.peak_rss = self.peak_pss = 0
        ready = os.path.join(WORK, "ready.json")
        if os.path.exists(ready):
            os.remove(ready)
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update({
            # the package must import in Spark's Python workers too
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cores()),
            # a bounded heap keeps the process tree's peak memory repeatable
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            # no /tmp/hsperfdata_<user> files from the launcher or driver JVM
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            "TMPDIR": tmp,
        })
        cmd = [sys.executable, os.path.join(HERE, "server_child.py"),
               "--root", ROOT, "--table", table, "--ready", ready]
        if trace:
            cmd.append("--trace")
        t0 = time.perf_counter()
        self._log = open(os.path.join(WORK, "server.log"), "wb")
        self.proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                                     stdout=self._log, stderr=subprocess.STDOUT,
                                     start_new_session=True)
        self._stop_sampler = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()
        while not os.path.exists(ready):
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}; "
                                   f"see {self._log.name}")
            time.sleep(0.05)
        with open(ready) as f:
            ports = json.load(f)
        self.port, self.ctl_port = ports["port"], ports["ctl_port"]
        self.start_s = time.perf_counter() - t0

    def _sample(self) -> None:
        while not self._stop_sampler.wait(0.2):
            mem = [_memory_bytes(p) for p in _session_pids(self.proc.pid)]
            self.peak_rss = max(self.peak_rss, sum(m[0] for m in mem))
            self.peak_pss = max(self.peak_pss, sum(m[1] for m in mem))

    def ctl(self, method: str, path: str, payload=None):
        status, body = call(self.ctl_port, method, path, payload)
        if status != 200:
            raise RuntimeError(f"control {path}: HTTP {status}")
        return body

    def stop(self) -> None:
        """Stop the child and wait until every process of its session
        has ended. Memory is sampled up to the shutdown request."""
        self._stop_sampler.set()
        self._sampler.join()
        try:
            if self.proc.poll() is None:
                try:
                    self.ctl("POST", "/shutdown", {})
                    self.proc.wait(timeout=30)
                except (OSError, RuntimeError, subprocess.TimeoutExpired):
                    pass
        finally:
            deadline = time.monotonic() + 30
            while True:
                left = _session_pids(self.proc.pid)
                if self.proc.poll() is not None and not left:
                    break
                if time.monotonic() > deadline:
                    raise RuntimeError(f"processes still running: {left}")
                # by pid, not by group: Spark's Python worker daemon runs
                # in a process group of its own inside the session
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                if self.proc.poll() is None:
                    try:
                        self.proc.wait(timeout=1)
                    except subprocess.TimeoutExpired:
                        pass
                time.sleep(0.1)
            self._log.close()


# -- checks ---------------------------------------------------------------

_ERROR_CLASS = re.compile(r"\[([A-Z][A-Z_]+(?:\.[A-Z_]+)*)\]")


def error_class(status: int | None, body=None, exc: BaseException | None = None) -> str:
    """A failure's class: the Spark error class in the message when
    there is one, else the exception type or the HTTP status."""
    if exc is not None:
        return type(exc).__name__
    detail = body.get("detail", "") if isinstance(body, dict) else ""
    m = _ERROR_CLASS.search(str(detail))
    if m:
        return m.group(1).rsplit(".", 1)[-1]
    return f"HTTP_{status}"


class Ledger:
    """Attempts, failures by class and correctness violations, shared
    by the client threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.attempted = 0
        self.failures: Counter = Counter()
        self.wrong: list[str] = []

    def fail(self, cls: str) -> None:
        with self.lock:
            self.failures[cls] += 1

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            with self.lock:
                if len(self.wrong) < 20:
                    self.wrong.append(what)
                else:
                    self.wrong[-1] = f"... and more ({what})"

    @property
    def failed(self) -> int:
        return sum(self.failures.values())


def check_search(led: Ledger, q: gen.Query, status: int, body) -> bool:
    """Check one /search reply against the query's oracle; returns
    whether the operation succeeded (a wrong answer is recorded apart)."""
    if q.kind == "empty":
        led.check(status == 400 and body == {"detail": "Query cannot be empty"},
                  f"empty query got {status} {body!r:.80}")
        return True
    if status != 200:
        led.fail(error_class(status, body))
        return False
    chunks = body.get("chunks") if isinstance(body, dict) else None
    shape = (isinstance(body, dict) and set(body) == QUERY_KEYS
             and isinstance(chunks, list)
             and all(isinstance(c, dict) and set(c) == CHUNK_KEYS for c in chunks))
    led.check(shape, f"bad QueryResponse shape for {q.text[:40]!r}")
    if not shape:
        return True
    scores = [c["score"] for c in chunks]
    led.check(len(chunks) <= q.top_k and body["total_results"] == len(chunks),
              f"{len(chunks)} chunks for top_k={q.top_k}")
    led.check(all(a >= b for a, b in zip(scores, scores[1:])),
              f"scores not descending: {scores}")
    if q.kind == "exact":
        led.check(bool(chunks) and chunks[0]["id"] == q.expect_id
                  and chunks[0]["score"] == 1.0,
                  f"exact chunk {q.expect_id} not first with score 1.0: "
                  f"{[(c['id'], c['score']) for c in chunks[:2]]}")
    return True


def check_ingest(led: Ledger, status: int, body, n_files: int, chunks: int) -> bool:
    if status != 200:
        led.fail(error_class(status, body))
        return False
    ok = (isinstance(body, dict)
          and body.get("message") == f"Successfully ingested {n_files} PDFs"
          and body.get("ingested_count") == chunks
          and len(body.get("pdfs_processed") or []) == n_files)
    led.check(ok, f"ingest reply {str(body)[:120]} (expected {n_files} files, "
                  f"{chunks} chunks in the table)")
    return True


# -- load -----------------------------------------------------------------

class Run:
    """One benchmark run: inputs, server, set-up and the measured loop."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.trace = workload, trace
        self.g = gen.Generator(seed, N_DOCS, MIN_CHARS, MAX_CHARS)
        # one search client per core; on search_with_ingest the writer
        # takes one of them
        self.writer = workload == "search_with_ingest"
        self.streams = [self.g.queries(i) for i in range(cores() - self.writer)]
        self.corpus_dir = os.path.join(WORK, "corpus")
        gen.write_pdfs(self.g.corpus, self.corpus_dir)
        self.text_bytes = sum(len(d.text) for d in self.g.corpus)
        self.corpus_chunks = sum(gen.chunk_count(d.text) for d in self.g.corpus)
        self.table = os.path.join(WORK, "table")
        self.led = Ledger()
        self.table_chunks = 0
        self.slices = 0

    # each operation returns its latency in seconds, or None if it failed
    def search(self, q: gen.Query) -> float | None:
        t0 = time.perf_counter()
        try:
            status, body = call(self.server.port, "POST", "/search",
                                {"query": q.text, "top_k": q.top_k})
        except (OSError, http.client.HTTPException, ValueError) as e:
            self.led.fail(error_class(None, exc=e))
            return None
        dt = time.perf_counter() - t0
        return dt if check_search(self.led, q, status, body) else None

    def ingest(self, corpus_dir: str, n_files: int, chunks_after: int) -> float | None:
        t0 = time.perf_counter()
        try:
            status, body = call(self.server.port, "POST", "/ingest",
                                {"corpus_dir": corpus_dir, "glob": "*.pdf"})
        except (OSError, http.client.HTTPException, ValueError) as e:
            self.led.fail(error_class(None, exc=e))
            return None
        dt = time.perf_counter() - t0
        if not check_ingest(self.led, status, body, n_files, chunks_after):
            return None
        self.table_chunks = chunks_after
        return dt

    def ingest_corpus(self) -> float | None:
        """Empty the table and ingest the whole corpus into it."""
        shutil.rmtree(self.table, ignore_errors=True)
        return self.ingest(self.corpus_dir, len(self.g.corpus), self.corpus_chunks)

    def setup(self) -> None:
        self.server = Server(self.table, self.trace)
        self.cycles, self.setup_ingests = [], []
        warm_q = gen.Query("warm the serving index", 5, "words")
        for _ in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            dt = self.ingest_corpus()
            if dt is None or self.search(warm_q) is None:
                raise RuntimeError("set-up failed: " + str(dict(self.led.failures)))
            self.cycles.append(time.perf_counter() - t0)
            self.setup_ingests.append(dt)
        self.setup_s = self.server.start_s + median(self.cycles)
        self.closed_loop(WARMUP_S, record=False)

    def closed_loop(self, seconds: float, record: bool = True) -> dict:
        """Search clients (and, on search_with_ingest when recording,
        the writer) for ``seconds``; returns latencies by operation."""
        writer = record and self.writer
        out = _empty_latencies()
        lock = threading.Lock()
        start = time.perf_counter()
        deadline = start + seconds
        writes_done = threading.Event()

        def add(kind: str, dt: float | None) -> None:
            if not record:
                return
            with self.led.lock:
                self.led.attempted += 1
            if dt is not None:
                with lock:
                    out[kind].append(dt)

        def searcher(stream) -> None:
            while not (writes_done.is_set() if writer else time.perf_counter() >= deadline):
                q = next(stream)
                dt = self.search(q)
                add("search", None if q.kind == "empty" else dt)

        def appender() -> None:
            # Closed loop. The window closes when the last write started
            # before the deadline completes, so it always holds whole
            # write cycles: k writes and the k-1 index re-warms they cause.
            try:
                while time.perf_counter() < deadline:
                    docs = self.g.slice(self.slices, SLICE_DOCS)
                    d = os.path.join(WORK, f"slice_{self.slices:04d}")
                    gen.write_pdfs(docs, d)
                    self.slices += 1
                    self.text_bytes += sum(len(x.text) for x in docs)
                    after = self.table_chunks + sum(gen.chunk_count(x.text) for x in docs)
                    add("ingest", self.ingest(d, len(docs), after))
            finally:
                writes_done.set()

        threads = [threading.Thread(target=searcher, args=(s,)) for s in self.streams]
        if writer:
            threads.append(threading.Thread(target=appender))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        out["wall_s"] = time.perf_counter() - start
        return out


# -- metrics --------------------------------------------------------------

def _empty_latencies() -> dict:
    return {"search": [], "ingest": [], "wall_s": 0.0}


def end_to_end(run: Run, lat: dict) -> tuple[dict, list[str]]:
    """The gated metrics (BENCHMARK.json) and report lines that name
    every end-to-end figure with its unit and sample count."""
    w = run.workload
    srch = lat["search"]
    # the run's ingests: the set-up's whole-corpus ingests on
    # serve_search, the writer's slices beside reads on search_with_ingest
    ing = lat["ingest"] or run.setup_ingests
    if not srch or not ing:
        raise RuntimeError("no successful search or ingest in the run")
    gated = {
        "setup_s": (run.setup_s, "s", SETUP_CYCLES),
        "search_p50_ms": (median(srch) * 1e3, "ms", len(srch)),
        "search_tail_ms": (percentile(srch, TAIL_P[w]) * 1e3, "ms", len(srch)),
        "search_qps": (len(srch) / lat["wall_s"], "1/s", len(srch)),
        "stored_bytes_per_text_byte": (run.stored_bytes / run.text_bytes, "ratio", 1),
    }
    report = dict(gated)
    report["ingest_p50_s"] = (median(ing), "s", len(ing))
    report["peak_pss_mb"] = (run.server.peak_pss / 2**20, "MB", 1)
    report["peak_rss_mb"] = (run.server.peak_rss / 2**20, "MB", 1)
    report["failed_frac"] = (run.led.failed / max(1, run.led.attempted), "ratio",
                             run.led.attempted)
    # CPU time the hypervisor gave to other guests, set-up and window:
    # every timing of a run reads slower when it is high
    report["host_steal_frac"] = (run.steal_frac, "ratio", 1)
    tail = supported_tail(len(srch))
    if tail is not None:
        report[f"search_p{tail:g}_ms"] = (percentile(srch, tail) * 1e3, "ms", len(srch))
    warm = run.setup_ingests[1:]
    report["ingest_docs_per_s"] = (N_DOCS / median(warm), "1/s", len(warm))
    for cls, n in sorted(run.led.failures.items()):
        report[f"failures.{cls}"] = (n, "count", run.led.attempted)
    lines = [f"# workload {w}: seed={run.g.seed} cores={cores()} docs={N_DOCS} "
             f"corpus_chunks={run.corpus_chunks} window_s={lat['wall_s']:.2f} "
             f"slices={run.slices}",
             f"# set-up: server start {run.server.start_s:.3f} s, cycles "
             + ", ".join(f"{c:.3f}" for c in run.cycles) + " s",
             f"# search_tail_ms is the {TAIL_P[w]:g}th percentile; ingest_docs_per_s "
             "is from the warm set-up ingests"]
    for k, (v, unit, n) in report.items():
        lines.append(f"{k:32s} {v:14.4f} {unit:6s} n={n}")
    return {k: v[:2] for k, v in gated.items()}, lines


def per_layer(run: Run, spans: list[dict], client: list[float], untraced: list[float],
              floor_ms: list[float]) -> dict:
    """Per-layer metrics from the traced segments. Spark counts are per
    operation (search or ingest); ingest counts are per write."""
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    searches = by.get("api.search", [])
    ingests = by.get("api.ingest", [])
    writes = {s["parent"]: s for s in by.get("ingest.write", [])}
    plans = {}
    for s in by.get("search.plan", []):
        plans.setdefault(s["parent"], []).append(s["end"] - s["start"])
    warms = by.get("search.warm", [])

    def med(xs, scale=1.0):
        return median(xs) * scale if xs else 0.0

    search_ms = [(s["end"] - s["start"]) * 1e3 for s in searches]
    plan_ms = [sum(plans.get(s["group"], [0.0])) * 1e3 for s in searches]
    exec_ms = [a - b for a, b in zip(search_ms, plan_ms)]
    extract, write, count = [], [], []
    for s in ingests:
        wr = writes.get(s["group"])
        if wr:
            extract.append(wr["start"] - s["start"])
            write.append(wr["end"] - wr["start"])
            count.append(s["end"] - wr["end"])
    ops = searches + ingests
    tops = warms + ops + list(writes.values())
    tot = Counter()
    for s in tops:
        tot.update(s.get("spark", {}))
    n_ops = max(1, len(ops))
    m = {
        "server.overhead_ms": (med(client, 1e3) - med(search_ms)) if searches else 0.0,
        "api.search_ms": med(search_ms),
        "api.ingest_s": med([s["end"] - s["start"] for s in ingests]),
        "search.plan_ms": med(plan_ms),
        "search.exec_ms": med(exec_ms),
        "search.jobs_per_request": (sum(s["spark"]["jobs"] for s in searches)
                                    / max(1, len(searches))),
        "search.warm_s": med([s["end"] - s["start"] for s in warms]),
        "search.warms": len(warms) / len(ingests) if ingests else 0.0,
        "ingest.extract_s": med(extract),
        "ingest.write_s": med(write),
        "ingest.count_s": med(count),
        # per write, so they do not depend on how many writes a window holds
        "ingest.chunks": med([w["spark"]["output_rows"] for w in writes.values()]),
        "ingest.bytes_written": med([w["bytes_written"] for w in writes.values()]),
        "ingest.files_written": med([w["files_written"] for w in writes.values()]),
        "spark.job_floor_ms": med(floor_ms),
        "spark.jobs": tot["jobs"] / n_ops,
        "spark.stages": tot["stages"] / n_ops,
        "spark.tasks": tot["tasks"] / n_ops,
        "spark.executor_run_s": tot["run_s"] / n_ops,
        "spark.executor_cpu_s": tot["cpu_s"] / n_ops,
        "spark.input_mb": tot["input_b"] / 2**20 / n_ops,
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / 2**20 / n_ops,
        "trace.p50_untraced_ms": med(untraced, 1e3),
        "trace.p50_traced_ms": med(client, 1e3),
    }
    m["trace.overhead_pct"] = ((m["trace.p50_traced_ms"] / m["trace.p50_untraced_ms"] - 1) * 100
                               if untraced else 0.0)
    return m


PER_LAYER_UNITS = {
    "server.overhead_ms": "ms", "api.search_ms": "ms", "api.ingest_s": "s",
    "search.plan_ms": "ms", "search.exec_ms": "ms", "search.jobs_per_request": "count",
    "search.warm_s": "s", "search.warms": "count", "ingest.extract_s": "s",
    "ingest.write_s": "s", "ingest.count_s": "s", "ingest.chunks": "count",
    "ingest.bytes_written": "bytes", "ingest.files_written": "count",
    "spark.job_floor_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.input_mb": "MB", "spark.shuffle_write_mb": "MB",
    "trace.p50_untraced_ms": "ms", "trace.p50_traced_ms": "ms", "trace.overhead_pct": "%",
}


STEAL = 7  # index of "steal" among the cpu fields of /proc/stat


def _cpu_ticks() -> list[int]:
    """The machine's cumulative CPU time counters (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _abort(signum, _frame):
    # raised in the main thread, so the server is still stopped on the way out
    raise RuntimeError(f"run stopped by {signal.Signals(signum).name}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TAIL_P))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package at {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _abort)
    signal.signal(signal.SIGTERM, _abort)
    signal.alarm(RUN_BUDGET_S)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    run = Run(args.workload, args.seed, bool(args.trace))
    ticks0 = _cpu_ticks()
    try:
        run.setup()
        if args.trace:
            # untraced, traced, traced, untraced: a latency trend over
            # the run (JIT warm-up) cancels out of the overhead estimate
            untraced, lat = _empty_latencies(), _empty_latencies()
            for on in (False, True, True, False):
                run.server.ctl("POST", "/trace", {"on": on})
                seg = run.closed_loop(args.seconds / 4)
                for k, v in seg.items():
                    (lat if on else untraced)[k] += v
            run.server.ctl("POST", "/trace", {"on": False})
            time.sleep(0.5)  # let the listener bus record the last jobs
            spans = run.server.ctl("GET", "/trace")
            floor = run.server.ctl("GET", "/floor")
        else:
            lat = run.closed_loop(args.seconds)
        ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
        run.steal_frac = ticks[STEAL] / sum(ticks)
        run.stored_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(run.table) for f in fs
            if not f.startswith(("_", ".")))
    finally:
        if hasattr(run, "server"):
            run.server.stop()
        signal.alarm(0)
    metrics, lines = end_to_end(run, lat)
    if args.trace:
        layer = per_layer(run, spans, lat["search"], untraced["search"], floor)
        metrics = {k: (v, PER_LAYER_UNITS[k]) for k, v in layer.items()}
        lines += [f"{k:32s} {v:14.4f} {PER_LAYER_UNITS[k]}" for k, v in layer.items()]
    for line in lines:
        print(line)
    for what in run.led.wrong:
        print(f"# WRONG: {what}")
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": not run.led.wrong,
        "attempted": run.led.attempted,
        "failed": run.led.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
