"""The two workloads, their set-up, the correctness check and the metrics.

``query``: two closed-loop clients send a seeded query stream over HTTP
to ``hunt_spark.server`` in front of an index built (and cached) in
set-up; every reply is checked against the oracle. ``mixed``: one
reader client sends the same kind of stream while one writer client
posts N_BATCHES seeded insert batches through ``POST /eval``; the
reader goes on until both the window and the writer are done; its
replies are checked for status only, as the index changes under them.
Each reader sends at least MIN_QUERIES queries, so a first query that
outlasts the window still leaves a warm one.

Then the probe, whose replies must match an oracle over the base plus
the inserted docs: on ``query``, one client sends the first reader's
first text PROBE_REPEATS times; on ``mixed``, two clients send one fresh
text each (see _fresh_after_writes), which read the base snapshot and
the inserted one together.

The cold figure (``query_cold_p50_s``, end to end) and the warm one
(``queries.warm_p50_s``, per layer) of ``mixed`` are the reader's queries
beside the writer. On ``query``, the cold figure is the readers' first
queries, which start together on every seed, and the warm one is the
probe: a query beside another client's query takes as long as the
overlap of the two makes it, which swings from run to run.

Set-up is everything before the measured window: Spark start, input
generation, the index build, caching and server start.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import subprocess
import threading
import time
import urllib.parse
from pathlib import Path

from perfbench import inputs
from perfbench.trace import Tracer

N_DOCS = 2000
BATCH_DOCS = 20
N_BATCHES = 1  # an insert takes about as long as the window
STREAM_LEN = 2000

REPEATS = 9  # repeats sent after each fresh query text
MIN_QUERIES = 2  # per reader: the first (cold) and its first repeat (warm)
# readers: closed-loop query clients; writer: one client that inserts
WORKLOADS = {
    "query": {"readers": 2, "writer": False},
    "mixed": {"readers": 1, "writer": True},
}
PROBE_REPEATS = 9
K = 10
ATOL = 1e-6
BUILD_ID = "bench"


# ---------------------------------------------------------------- processes
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of this process and every process it
    started: the Spark driver JVM and its Python workers."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


# ---------------------------------------------------------------- spark
def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: Path, trace: bool):
    from hunt_spark.session import get_spark

    n = cores()
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "events").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    left = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is not None:
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
        if not left:
            return
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---------------------------------------------------------------- client
class Client:
    """HTTP client state shared by the client threads: the set of query
    texts sent since the last acknowledged write (which classes a query
    cold or warm) and the request log."""

    def __init__(self, port: int, tracer: Tracer):
        self.port = port
        self.tracer = tracer
        self.lock = threading.Lock()
        self.sent: set[str] = set()
        self.queries: list[dict] = []
        self.writes: list[dict] = []
        self._rid = 0

    def call(self, method: str, path: str, body=None):
        with self.lock:
            self._rid += 1
            rid = self._rid
        if self.tracer.enabled:
            path += ("&" if "?" in path else "?") + f"rid={rid}"
        with self.tracer.span("client", rid=rid) as sp:
            if sp is not None:
                self.tracer.request_spans[rid] = sp
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
            try:
                data = json.dumps(body).encode() if body is not None else None
                conn.request(method, path, body=data,
                             headers={"Content-Type": "application/json"})
                resp = conn.getresponse()
                return resp.status, json.loads(resp.read() or b"null")
            finally:
                conn.close()

    def query(self, q: inputs.Query) -> dict:
        with self.lock:
            cold = q.text not in self.sent
            self.sent.add(q.text)
        enc = urllib.parse.quote(q.text, safe="")
        route = "completion" if q.shape == "completion" else "search"
        t0 = time.perf_counter()
        try:
            status, payload = self.call("GET", f"/{route}/{enc}?limit={K}")
        except Exception as e:  # noqa: BLE001 — counted as a failure
            status, payload = 0, repr(e)
        t1 = time.perf_counter()
        rec = {"q": q, "cold": cold, "t0": t0, "t1": t1, "status": status,
               "payload": payload, "thread": threading.get_ident()}
        with self.lock:
            self.queries.append(rec)
        return rec

    def insert(self, batch: list[tuple[str, str]]) -> dict:
        cmds = [{"cmd": "insert", "document": {"uri": u, "index": {"text": t}}}
                for u, t in batch]
        t0 = time.perf_counter()
        try:
            status, payload = self.call("POST", "/eval", cmds)
        except Exception as e:  # noqa: BLE001 — counted as a failure
            status, payload = 0, repr(e)
        t1 = time.perf_counter()
        rec = {"batch": batch, "t0": t0, "t1": t1, "status": status,
               "payload": payload}
        with self.lock:
            if 200 <= status < 300:
                self.sent.clear()  # every text is cold again after a write
            self.writes.append(rec)
        return rec


def _reader(client: Client, stream: list[inputs.Query], deadline: float,
            writer_done: threading.Event) -> None:
    """Closed loop: send the next query once the last one is answered,
    until the deadline has passed, the writer (if any) is done and at
    least MIN_QUERIES were sent."""
    client.tracer.lane(True)
    for i, q in enumerate(stream):
        if (i >= MIN_QUERIES and time.perf_counter() >= deadline
                and writer_done.is_set()):
            break
        client.query(q)
    client.tracer.lane(False)


def _writer(client: Client, batches, done: threading.Event) -> None:
    """Insert the batches back to back."""
    client.tracer.lane(True)
    try:
        for b in batches:
            client.insert(b)
    finally:
        client.tracer.lane(False)
        done.set()


# ---------------------------------------------------------------- checking
def make_oracle(docs: list[tuple[str, str]]):
    from hunt_spark.oracle import OracleIndex

    return OracleIndex(
        [(i, u, 1.0) for i, (u, _t) in enumerate(docs)],
        {"text": {i: t for i, (_u, t) in enumerate(docs)}},
    )


def _norm(pairs) -> list[tuple[str, float]]:
    # order ties (scores equal to 1e-6) by key, so float summation order
    # cannot flip two equal-scored results
    return sorted(((k, float(s)) for k, s in pairs), key=lambda r: (-round(r[1], 6), r[0]))


def expected(oracle, q: inputs.Query) -> list[tuple[str, float]]:
    if q.shape == "completion":
        return _norm(oracle.complete_query(q.text, k=K))
    return _norm((url, s) for _d, url, s in oracle.search(q.text, k=K))


def got(q: inputs.Query, payload) -> list[tuple[str, float]]:
    if q.shape == "completion":
        return _norm((w, s) for w, s in payload)
    return _norm((r["uri"], r["score"]) for r in payload["result"])


def matches(exp, res) -> bool:
    return len(exp) == len(res) and all(
        a[0] == b[0] and abs(a[1] - b[1]) <= ATOL for a, b in zip(exp, res)
    )


def check(oracle, recs: list[dict]) -> int:
    """Count replies that are not 2xx or differ from the oracle; the
    oracle's answer is computed once per query text."""
    cache: dict[str, list] = {}
    bad = 0
    for r in recs:
        if not 200 <= r["status"] < 300:
            bad += 1
            continue
        q = r["q"]
        if q.text not in cache:
            cache[q.text] = expected(oracle, q)
        try:
            res = got(q, r["payload"])
        except (KeyError, TypeError, ValueError):  # a malformed reply
            bad += 1
            continue
        if not matches(cache[q.text], res):
            bad += 1
    return bad


def _firsts(window: list[dict]) -> list[dict]:
    """The first query of each reader."""
    first: dict[int, dict] = {}
    for r in window:
        if r["thread"] not in first or r["t0"] < first[r["thread"]]["t0"]:
            first[r["thread"]] = r
    return list(first.values())


def _median(xs: list[float]) -> float:
    """The median, or 0 for a figure the run has no sample of (a
    workload without writes, a reader whose every repeat followed a
    write)."""
    return statistics.median(xs) if xs else 0.0


def manifest(root: Path) -> list[dict]:
    with open(root / "_snapshots.jsonl") as f:
        return [json.loads(line) for line in f if line.strip()]


# ---------------------------------------------------------------- the run
def run(workload: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    from pyspark.sql import functions as F

    from hunt_spark.engine import HuntEngine
    from hunt_spark.operators.build import BuildConfig
    from hunt_spark.server import HuntServer

    wl = WORKLOADS[workload]
    t_begin = time.perf_counter()
    tracer = Tracer(trace)
    tracer.lane(True)
    with tracer.span("setup.spark"):
        spark = start_spark(work, trace)
    try:
        tracer.sc = spark.sparkContext if trace else None
        with tracer.span("setup.inputs"):
            inp = inputs.generate(
                seed, N_DOCS, wl["readers"], STREAM_LEN, REPEATS,
                n_batches=N_BATCHES if wl["writer"] else 0,
                batch_size=BATCH_DOCS,
            )
            docs = spark.createDataFrame(inp.corpus, "url string, text string")
        cat_root = work / "catalog"
        # one shard per core, as bench.py has on hosts of 8 cores or more
        # (it never goes below 8, which makes this small build about a
        # tenth slower on 4 cores). block_size is under the default 4096,
        # or no term of 2,000 docs spans more than one block and WAND has
        # no block to prune
        engine = HuntEngine(spark, str(cat_root),
                            BuildConfig(n_shards=cores(), block_size=256))
        server = HuntServer(engine, port=0)
        counters = None
        if trace:
            from perfbench import instrument

            counters = instrument.install(tracer, engine, server)
        t_build = time.perf_counter()
        with tracer.span("engine.build") as sp:
            tracer.ambient = sp
            engine.build(docs, {"text": F.col("text")}, build_id=BUILD_ID)
            tracer.ambient = None
        build_s = time.perf_counter() - t_build
        built = manifest(cat_root)
        with tracer.span("engine.cache"):
            engine.cache()
        server.start()
        client = Client(server.port, tracer)
        try:
            setup_s = time.perf_counter() - t_begin
            rss = [peak_rss_mb()]

            # ---- measured window
            t0 = time.perf_counter()
            deadline = t0 + seconds
            writer_done = threading.Event()
            threads = [threading.Thread(target=_reader,
                                        args=(client, s, deadline, writer_done))
                       for s in inp.streams]
            if wl["writer"]:
                threads.append(threading.Thread(
                    target=_writer,
                    args=(client, inp.inserts, writer_done)))
            else:
                writer_done.set()
            for t in threads:
                t.start()
            with tracer.span("window.wait"):
                for t in threads:
                    t.join()
            rss.append(peak_rss_mb())

            window = list(client.queries)
            attempted = len(window) + len(client.writes)
            if wl["writer"]:
                # the index changes under these replies: status only
                failed = sum(not 200 <= r["status"] < 300
                             for r in window + client.writes)
            client.queries.clear()
            if wl["writer"]:
                # one client per text: these are cold, and only checked
                probers = [threading.Thread(target=client.query, args=(q,))
                           for q in _fresh_after_writes(inp, seed)]
                for t in probers:
                    t.start()
                for t in probers:
                    t.join()
            else:
                for q in [inp.streams[0][0]] * PROBE_REPEATS:
                    client.query(q)
            probe = list(client.queries)
            attempted += len(probe)
            # the last sample comes before the benchmark's own oracle
            rss.append(peak_rss_mb())
            acked = [d for w in client.writes if 200 <= w["status"] < 300
                     for d in w["batch"]]
            with tracer.span("check.oracle"):
                oracle = make_oracle(inp.corpus + acked)
                if not wl["writer"]:
                    failed = check(oracle, window)
                failed += check(oracle, probe)
        finally:
            server.shutdown()
        tracer.lane(False)
        wall = time.perf_counter() - t_begin

        cold = [r["t1"] - r["t0"] for r in window if r["cold"]]
        warm = [r["t1"] - r["t0"] for r in window if not r["cold"]]
        # a query counts with the share of its latency inside the window,
        # so a slow query at the deadline cannot swing the rate
        done = sum(
            max(0.0, min(r["t1"], deadline) - r["t0"]) / (r["t1"] - r["t0"])
            for r in window
        )
        if wl["writer"]:
            lat_cold, lat_warm = cold, warm
        else:
            lat_cold = [r["t1"] - r["t0"] for r in _firsts(window)]
            lat_warm = [r["t1"] - r["t0"] for r in probe]
        text_bytes = sum(len(t.encode()) for _u, t in inp.corpus)
        e2e = {
            "setup_s": (setup_s, "s"),
            "build_docs_per_s": (N_DOCS / build_s, "docs/s"),
            "index_bytes_per_input_byte": (
                sum(p["bytes"] for e in built for p in e["lineage"]) / text_bytes,
                "ratio",
            ),
            "peak_rss_mb": (max(rss), "MB"),
            "query_cold_p50_s": (statistics.median(lat_cold), "s"),
        }
        # the warm latency beside the writer, the query rate on mixed and
        # the write figures swing too much between runs to bound, and only
        # mixed writes: reported per layer
        ins = [w["t1"] - w["t0"] for w in client.writes]
        traffic = {
            "queries.warm_p50_s": (_median(lat_warm), "s"),
            "queries.qps": (done / seconds, "1/s"),
            "queries.cold": (len(cold), "count"),
            "queries.warm": (len(warm), "count"),
            "queries.all_cold_p50_s": (_median(cold), "s"),
            "queries.all_warm_p50_s": (_median(warm), "s"),
            "writes.inserts": (len(ins), "count"),
            "writes.insert_p50_s": (_median(ins), "s"),
        }
        info = {**{k: v for k, (v, _u) in {**e2e, **traffic}.items()}, "wall_s": wall}
        if trace:
            from perfbench import layers

            metrics = layers.per_layer(
                tracer, counters, spark, built, build_s, wall, e2e, traffic,
                len(window) + len(probe),
            )
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        if trace:
            from perfbench import instrument

            instrument.uninstall()
        stop_spark(spark)
    if trace:
        from perfbench import layers

        layers.add_event_log(metrics, work)
        spans = work.parent / "spans"
        spans.mkdir(exist_ok=True)
        tracer.dump(spans / f"{workload}-seed{seed}.jsonl", t_begin)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "info": info}


def _fresh_after_writes(inp: inputs.Inputs, seed: int) -> list[inputs.Query]:
    """Two fresh query texts with nonempty answers, so the check after
    the inserts compares real results: a hot single term, whose BM25
    scores depend on the collection statistics the inserts changed, and
    a completion, which reads the term dictionary."""
    import numpy as np

    maker = inputs.QueryMaker(np.random.default_rng([seed, 2]), inp.corpus)
    return [maker.make("single"), maker.make("completion")]
