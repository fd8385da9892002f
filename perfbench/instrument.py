"""Traced-run wrappers around the calls into each hunt_spark layer.

Each wrapper opens a span named after the layer and counts the work it
sees (plan builds, commits, bytes written, WAND pruning stats). They
are installed on the engine, catalog and server objects of one run, and
on the parser function and the compiler/WAND classes, only when tracing
is on; the program's files are not changed.
"""

from __future__ import annotations

import functools
import threading
import urllib.parse
from collections import defaultdict

import hunt_spark.engine as engine_mod
from hunt_spark.plans.compiler import QueryCompiler
from hunt_spark.plans.wand import WandExecutor

from perfbench.trace import Tracer

WAND_KEYS = ("blocks_total", "blocks_scanned", "seed_jobs", "stats_rows_collected")


class Counters:
    def __init__(self):
        self._lock = threading.Lock()
        self.n: dict[str, float] = defaultdict(float)
        self.widths: list[int] = []  # snapshots unioned per catalog read

    def add(self, key: str, v: float = 1.0) -> None:
        with self._lock:
            self.n[key] += v


class _Collectable:
    """Stands in for a DataFrame the server only collects, so the
    collect gets a span of its own."""

    def __init__(self, df, tracer: Tracer, name: str):
        self._df, self._tracer, self._name = df, tracer, name

    def collect(self):
        with self._tracer.span(self._name):
            return self._df.collect()

    def __getattr__(self, attr):
        return getattr(self._df, attr)


def _wrap(obj, attr: str, tracer: Tracer, name: str, after=None, before=None):
    fn = getattr(obj, attr)

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        if before is not None:
            before()
        with tracer.span(name):
            res = fn(*a, **kw)
        return after(res) if after is not None else res

    setattr(obj, attr, wrapper)


class _WandWatch:
    """WandExecutor.last_stats is one attribute shared by all requests,
    so a call's stats are read right after it returns and kept only if
    no other call ran at any time during it; overlapped calls are
    counted as unattributed instead of guessed."""

    def __init__(self, counters: Counters):
        self.c = counters
        self._lock = threading.Lock()
        self._active: dict[int, bool] = {}  # call token -> overlapped
        self._tok = 0

    def enter(self) -> int:
        with self._lock:
            self._tok += 1
            tok = self._tok
            if self._active:
                for k in self._active:
                    self._active[k] = True
            self._active[tok] = bool(self._active)
            return tok

    def leave(self, tok: int, stats: dict | None) -> None:
        with self._lock:
            overlapped = self._active.pop(tok)
        self.c.add("wand.calls")
        if overlapped or stats is None:
            self.c.add("wand.unattributed_calls")
            return
        for k in WAND_KEYS:
            self.c.add(f"wand.{k}", stats.get(k, 0))


def install(tracer: Tracer, engine, server) -> Counters:
    c = Counters()

    # ---- server: one span per request, parented to the client's span
    def serve(path: str, call):
        u = urllib.parse.urlsplit(path)
        qs = urllib.parse.parse_qs(u.query)
        rid = int(qs.pop("rid", ["0"])[0])
        query = urllib.parse.urlencode(qs, doseq=True)
        clean = u.path + ("?" + query if query else "")
        c.add("server.requests")
        with tracer.span("server", rid=rid, parent=tracer.request_spans.get(rid)):
            try:
                return call(clean)
            except Exception:
                c.add("server.errors")
                raise

    get, mutate = server.handle_get, server.handle_mutate
    server.handle_get = lambda path: serve(path, get)
    server.handle_mutate = lambda verb, path, body: serve(
        path, lambda p: mutate(verb, p, body)
    )

    # ---- engine
    def counted(key):
        return lambda: c.add(key)

    _wrap(engine, "search", tracer, "engine.search", after=lambda df: _Collectable(
        df, tracer, "engine.collect"), before=counted("engine.search_calls"))
    _wrap(engine, "_search_plan", tracer, "engine.plan",
          before=counted("engine.plan_builds"))
    _wrap(engine, "search_count", tracer, "engine.count")
    _wrap(engine, "complete_query", tracer, "engine.completion",
          after=lambda df: _Collectable(df, tracer, "engine.completion"))
    _wrap(engine, "insert", tracer, "engine.insert")
    _wrap(engine, "_refresh_stats", tracer, "engine.refresh_stats")
    _wrap(engine, "_refresh_stats_incremental", tracer, "engine.refresh_stats")
    comp = engine.compiler

    @functools.wraps(comp)
    def compiler():
        if engine._compiler is None:  # noqa: SLF001 — observing a rebuild
            c.add("engine.compiler_builds")
            with tracer.span("engine.compiler"):
                return comp()
        return comp()

    engine.compiler = compiler

    # ---- plans.parser (the engine resolves parse_query from its module)
    _wrap(engine_mod, "parse_query", tracer, "parser.parse")

    # ---- plans.compiler: the outermost eval of a (recursive) query
    ev = QueryCompiler.eval

    @functools.wraps(ev)
    def eval_(self, *a, **kw):
        cur = tracer.current()
        if cur is not None and cur.name == "compiler.eval":
            return ev(self, *a, **kw)
        with tracer.span("compiler.eval"):
            return ev(self, *a, **kw)

    QueryCompiler.eval = eval_

    # ---- plans.wand
    watch = _WandWatch(c)
    topk = WandExecutor.topk_candidates

    @functools.wraps(topk)
    def topk_(self, *a, **kw):
        tok = watch.enter()
        stats = None
        try:
            with tracer.span("wand.topk"):
                res = topk(self, *a, **kw)
            stats = self.last_stats
            return res
        finally:
            watch.leave(tok, stats)

    WandExecutor.topk_candidates = topk_

    # ---- sources.catalog
    cat = engine.catalog
    commit, read = cat.commit, cat.read

    @functools.wraps(commit)
    def commit_(*a, **kw):
        with tracer.span("catalog.commit"):
            e = commit(*a, **kw)
        c.add("catalog.commits")
        for part in e.get("lineage", []):
            c.add("catalog.bytes_written", part["bytes"])
            c.add("catalog.files_written", part["files"])
        return e

    @functools.wraps(read)
    def read_(spark, table, pinned_snapshot=None):
        if pinned_snapshot is None:
            try:
                c.widths.append(len(cat.current_paths(table)))
            except FileNotFoundError:
                pass
        with tracer.span("catalog.read"):
            return read(spark, table, pinned_snapshot)

    cat.commit, cat.read = commit_, read_
    return c


def uninstall() -> None:
    """Restore the class- and module-level functions install() wraps."""
    for cls, attr in ((QueryCompiler, "eval"), (WandExecutor, "topk_candidates")):
        fn = getattr(cls, attr)
        setattr(cls, attr, getattr(fn, "__wrapped__", fn))
    pq = engine_mod.parse_query
    engine_mod.parse_query = getattr(pq, "__wrapped__", pq)
