"""HuntEngine — the public API tying build, query, completion and
index maintenance together (the Spark analogue of Hunt's command
interpreter surface, Hunt/Interpreter/BasicCommand.hs:30-79:
Search/Completion/Select/InsertList/DeleteDocs/DeleteByQuery/
LoadIx/StoreIx/Status).
"""

from __future__ import annotations

import functools
import json
import threading

import numpy as np
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from hunt_spark.operators.build import (
    STATS_TABLES,
    BuildConfig,
    build_index,
    commit_all_stats,
    commit_blocks,
    commit_stats,
    postings_from_contexts,
    term_stats,
    term_totals,
)
from hunt_spark.plans import wand as wand_plan
from hunt_spark.plans.compiler import IndexStats, QueryCompiler, sim_col
from hunt_spark.plans.parser import parse_query
from hunt_spark.plans.wand import WandExecutor, compile_wand
from hunt_spark.sources.catalog import IndexCatalog

# the most committed doc_meta bytes the driver route of search_page
# scans with pyarrow for a page's urls; above it the full plan runs. On
# a 4-core host a scan of 3-47 MB took 0.01-0.09 s and grew the driver's
# peak RSS by 16-27 MB, against at least 1.7 s for the cheapest request
# through a Spark job on a 3 MB doc_meta
DRIVER_DOC_META_BYTES = 1 << 25


def _mutating(fn):
    """Serialize mutating verbs on the engine's mutation lock (RLock:
    update/compact call other mutating verbs internally)."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._mutate_lock:
            return fn(self, *args, **kwargs)

    return wrapper


class HuntEngine:
    def __init__(
        self,
        spark: SparkSession,
        catalog_root: str,
        cfg: BuildConfig | None = None,
        word_limit: int = 0,
        doc_limit: int = 0,
        scoring: str = "bm25",
        fuzzy_config=None,
    ):
        self.spark = spark
        self.catalog = IndexCatalog(catalog_root)
        self.cfg = cfg or BuildConfig()
        # Hunt's wordLimit / docLimit query knobs (Processor.hs:79-90,
        # reference defaults 100/500); 0 = exact — the default here
        self.word_limit = word_limit
        self.doc_limit = doc_limit
        # "bm25" (north-star ranking) | "hunt" (reference-native
        # sim*tf arithmetic, OR=max — RankingTests parity mode)
        self.scoring = scoring
        # None (default): QFuzzy evaluates as NoCase — exactly the live
        # reference evaluator (Processor.hs:605-615 TODO). A
        # plans.fuzzy.FuzzyConfig opts into the Holumbus expansion the
        # Fuzzy.hs tables were written for: word first, then fuzzed
        # variants in ascending-fuzziness order until one matches.
        self.fuzzy_config = fuzzy_config
        # mutation serialization (the reference interpreter's MVar on
        # the ContextIndex): the HTTP server handles requests on many
        # threads, and concurrent mutating verbs would race the
        # duplicate-URI validation (both see absent -> both insert) and
        # interleave manifest appends. Queries stay lock-free —
        # snapshot reads are consistent under append-only commits.
        self._mutate_lock = threading.RLock()
        # Every mutation bumps the generation (_invalidate). State derived
        # lazily from the catalog (compiler, doc_meta, WAND gate, plans,
        # counts) is kept only if the generation has not moved since the
        # request that derived it started: else a put racing an insert
        # would serve the pre-insert state until the next mutation.
        self._gen = 0
        self._cache_lock = threading.Lock()
        self._compiler: QueryCompiler | None = None
        self._doc_meta: DataFrame | None = None
        self._wand: WandExecutor | None = None
        self._term_totals: DataFrame | None = None  # completion dictionary
        self._wand_unavailable: str | None = None
        # Serving-path plan cache: building a query's DataFrame costs
        # hundreds of GIL-held py4j round trips (~0.5-1 s), which caps a
        # single driver frontend at ~1 QPS however many HTTP threads run
        # (measured: QPS 0.7/1.05/1.06 at client concurrency 1/4/16).
        # DataFrames are immutable logical plans — reusing one across
        # threads re-EXECUTES per collect(), so results stay fresh;
        # the cache is invalidated with the compiler on any mutation.
        self._plan_cache: dict[tuple, DataFrame] = {}
        # total-hit-count cache (LimitedResult.count = size of the
        # complete result, ApiDocument.hs:60,72-81) — one extra job per
        # distinct query, amortized across repeats like the plan cache
        self._count_cache: dict[str, int] = {}
        # per query text: the parsed AST, and the doc-level scored frame
        # collapse_contexts(eval(ast)) that the top-k plan and the count
        # share, so a query is compiled once
        self._ast_cache: dict[str, object] = {}
        self._frame_cache: dict[str, DataFrame] = {}

    # ------------------------------------------------------------------
    # build / load
    # ------------------------------------------------------------------
    def build(
        self,
        docs: DataFrame,
        context_cols: dict[str, Column],
        build_id: str = "full",
        resume: bool = True,
    ) -> dict[str, dict]:
        entries = build_index(
            self.spark, docs, context_cols, self.catalog, self.cfg, build_id, resume
        )
        self._invalidate()
        return entries

    def _invalidate(self) -> None:
        with self._cache_lock:
            self._gen += 1
            self._compiler = None
            self._doc_meta = None
            self._wand = None
            self._wand_unavailable = None
            self._term_totals = None
            for cache in (self._plan_cache, self._count_cache,
                          self._ast_cache, self._frame_cache):
                cache.clear()

    def _remember(self, gen: int, **attrs) -> None:
        """Keep lazily derived state unless a mutation invalidated the
        engine since generation ``gen``."""
        with self._cache_lock:
            if gen == self._gen:
                for name, value in attrs.items():
                    setattr(self, name, value)

    def _tombstones(self) -> DataFrame | None:
        try:
            return self.catalog.read(self.spark, "tombstones")
        except FileNotFoundError:
            return None

    def _postings(self) -> DataFrame:
        p = self.catalog.read(self.spark, "postings")
        t = self._tombstones()
        if t is not None:
            # merge-on-read deletes (Iceberg-style tombstones; Hunt
            # SegmentIndex delete generations, IndexWriter.hs:38-42).
            # No broadcast hint: a delete_by_query can tombstone 10% of
            # the corpus — let AQE pick broadcast vs shuffle by size.
            p = p.join(t.select("doc_id"), "doc_id", "left_anti")
        return p

    def cache(self) -> "HuntEngine":
        """Pin the query-side tables in executor memory (serving mode —
        what a deployment does for hot shards; Hunt holds the whole
        index in RAM at all times, Interpreter.hs XMVar). Idempotent.
        At 100 TB you cache term_stats/doc_meta fully and rely on OS
        page cache + parquet row-group pruning for postings; in local
        serving both fit."""
        self.compiler().postings.cache().count()
        self.compiler().term_stats.cache().count()
        self.doc_meta().cache().count()
        return self

    def doc_meta(self) -> DataFrame:
        m = self._doc_meta
        if m is None:
            gen = self._gen
            m = self.catalog.read(self.spark, "doc_meta")
            t = self._tombstones()
            if t is not None:
                # size-adaptive anti-join (AQE), same as _postings()
                m = m.join(t.select("doc_id"), "doc_id", "left_anti")
            self._remember(gen, _doc_meta=m)
        return m

    def _schema(
        self,
    ) -> dict[str, tuple[str, float, str | None, bool, tuple]] | None:
        """Durable context registry {context: (ctype, weight, regex,
        default, normalizers)} — Hunt's ContextSchema, maintained by
        build and the Insert/DeleteContext verbs (Interpreter/
        Command.hs:71-75); regex is the cxRegEx scan override
        (Schema.hs:77-92, None for the type default), default is
        cxDefault (Schema.hs:89 — False excludes the context from
        unrestricted-query fan-out), normalizers is the cxNormalizer
        name chain (Schema.hs:85). None on pre-schema catalogs
        (contexts then derive from context_stats); older snapshots
        read as regex=None / default=True / normalizers=()."""
        try:
            rows = self.catalog.read(self.spark, "schema").collect()
        except FileNotFoundError:
            return None
        out = {}
        for r in rows:
            d = r.asDict()
            dflt = d.get("cxdefault")
            ns = d.get("normalizers")
            out[r["context"]] = (
                r["ctype"],
                r["weight"],
                d.get("regex"),
                True if dflt is None else bool(dflt),
                tuple(ns.split(",")) if ns else (),
            )
        return out

    def _commit_schema(
        self,
        sch: dict[str, tuple[str, float, str | None, bool, tuple]],
        key: str,
    ) -> None:
        from hunt_spark.operators.build import schema_values_df

        rows = [
            (cx, t, float(w), rx, bool(d), list(ns))
            for cx, (t, w, rx, d, ns) in sorted(sch.items())
        ]
        self.catalog.commit(schema_values_df(self.spark, rows), "schema", key)

    def _sync_cfg_from_schema(self) -> dict | None:
        """Fold the durable schema into the in-memory cfg so a reopened
        engine normalizes typed contexts, applies context weights, and
        scans with per-context cxRegEx overrides without re-passing
        BuildConfig."""
        sch = self._schema()
        if sch is not None:
            for cx, (t, w, rx, d, ns) in sch.items():
                if t != "text":
                    self.cfg.context_types.setdefault(cx, t)
                self.cfg.context_weights.setdefault(cx, w)
                if rx is not None:
                    self.cfg.context_regexes.setdefault(cx, rx)
                self.cfg.context_defaults.setdefault(cx, d)
                if ns:
                    self.cfg.context_normalizers.setdefault(cx, list(ns))
        return sch

    def compiler(self) -> QueryCompiler:
        comp = self._compiler
        if comp is None:
            gen = self._gen
            sch = self._sync_cfg_from_schema()
            cstats = self.catalog.read(self.spark, "context_stats").collect()
            stats = IndexStats(
                n_docs={r["context"]: r["n_docs"] for r in cstats},
                avg_dl={r["context"]: r["avg_dl"] for r in cstats},
                context_weights=self.cfg.context_weights,
            )
            from hunt_spark.functions.analysis import (
                chain_norm_py,
                context_norm_py,
            )

            # per-context query normalizer = cxNormalizer chain, then
            # the type's key layout (normQueryCx order: validate ->
            # chain -> index bijection, Processor.hs:160-181)
            def _q_norm(chain, tnorm):
                def f(w):
                    if chain:
                        w = chain_norm_py(w, chain)
                        if w is None:
                            return None
                    return tnorm(w) if tnorm is not None else w

                return f

            norms = {}
            cx_names = set(self.cfg.context_types) | set(
                self.cfg.context_normalizers
            )
            for cx in cx_names:
                tnorm = context_norm_py(
                    self.cfg.context_types.get(cx, "text")
                )
                chain = self.cfg.context_normalizers.get(cx)
                if tnorm is not None or chain:
                    norms[cx] = _q_norm(chain, tnorm)
            comp = QueryCompiler(
                self._postings(),
                self.catalog.read(self.spark, "term_stats"),
                stats,
                self.cfg.n_shards,
                # a freshly inserted context may have no postings yet —
                # the schema, not the stats, defines the context set
                all_contexts=sorted(sch) if sch is not None else None,
                # cxDefault fan-out filter (Processor.hs:189): queries
                # without a context specifier reach only default
                # contexts; explicit restriction reaches them all
                default_contexts=(
                    sorted(cx for cx, e in sch.items() if e[3])
                    if sch is not None
                    else None
                ),
                word_limit=self.word_limit,
                doc_limit=self.doc_limit,
                context_norms=norms,
                scoring=self.scoring,
                context_types=self.cfg.context_types,
            )
            self._remember(gen, _compiler=comp)
        return comp

    def wand(self) -> WandExecutor | None:
        """The WAND scorer over the compressed blocks artifact.

        It scores from the blocks alone, so it opens only where they
        give the full plan's ranking (_open_wand lists the conditions:
        one context that needs no query-word normalization, uniform doc
        weights, BM25, no doc_limit, and no postings mutation or
        tombstone postdating the blocks snapshot). Otherwise the full
        plan runs. The verdict, open or closed, holds until the next
        mutation."""
        if self._wand is None and self._wand_unavailable is None:
            gen = self._gen
            wx, why = self._open_wand()
            self._remember(gen, _wand=wx, _wand_unavailable=why)
            return wx
        return self._wand

    def _open_wand(self) -> tuple[WandExecutor | None, str | None]:
        """(executor, None) when every WAND condition holds, else
        (None, the first one that fails)."""
        if self.scoring != "bm25":
            return None, "the WAND scorer computes BM25 only"
        t = self._tombstones()
        if t is not None and t.limit(1).count() > 0:
            return None, "tombstones postdate the blocks snapshot"
        # blocks must postdate the newest postings mutation: insert/
        # update commit fresh postings snapshots the blocks artifact
        # doesn't reflect (tombstones are gated by the row check
        # above, so a rebuild over pending deletes stays closed)
        if not self._derived_fresh(["blocks"], deps=("postings",)):
            return None, "blocks artifact stale or missing"
        try:
            # one overwrite snapshot (commit_blocks)
            snap = self.catalog.current_entries("blocks")[-1]
        except FileNotFoundError:
            return None, "blocks artifact missing"
        if len(self.compiler().all_contexts) > 1:
            return None, "multi-context index"
        if self.compiler().context_norms:
            # the full plan rewrites query words per context (typed key
            # layouts, normalizer chains); WAND legs look up the word
            return None, "context normalizes query words"
        if self.doc_limit:
            # per-context doc-set truncation (Hunt docLimit) runs
            # inside the full plan's scans; WAND doesn't apply it,
            # so auto-routing would flip result sets
            return None, "doc_limit configured"
        weight = self._uniform_doc_weight()
        if weight is None:
            return None, "non-uniform doc weights"
        st = self.compiler().stats
        return WandExecutor(
            self.spark, self.cfg.n_shards, st.n_docs, st.avg_dl,
            snap["path"], weight,
        ), None

    def _uniform_doc_weight(self) -> float | None:
        """The weight every doc carries (1.0 for no docs), read from the
        min/max statistics in the doc_meta files' parquet footers with
        no Spark job; None when the weights differ or a row group has no
        statistics. Tombstoned docs count: the WAND gate checks for
        tombstones first."""
        import glob
        import os

        import pyarrow.parquet as pq

        lo = hi = None
        for e in self.catalog.current_entries("doc_meta"):
            for f in glob.glob(os.path.join(e["path"], "*.parquet")):
                md = pq.read_metadata(f)
                j = md.schema.names.index("weight")
                for i in range(md.num_row_groups):
                    if md.row_group(i).num_rows == 0:
                        continue
                    st = md.row_group(i).column(j).statistics
                    if st is None or not st.has_min_max:
                        return None
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        return 1.0 if lo is None else lo if lo == hi else None

    # ------------------------------------------------------------------
    # query surface
    # ------------------------------------------------------------------
    def _ast(self, query):
        ast = parse_query(query) if isinstance(query, str) else query
        if self.fuzzy_config is not None:
            ast = self._resolve_fuzzy(ast)
        return ast

    def _resolve_fuzzy(self, q):
        """Opt-in Holumbus fuzzy resolution (see fuzzy_config): each
        QFuzzy leaf becomes the first of [word, fuzzed variants by
        ascending score] whose nocase evaluation is non-empty — or the
        word itself when nothing matches. Fuzz arithmetic is the exact
        Fuzzy.hs port (plans/fuzzy.py)."""
        from hunt_spark.plans.ast import (
            QBoost, QContext, QFullWord, QSeq, QWord,
        )
        from hunt_spark.plans.fuzzy import fuzz_list

        if isinstance(q, (QWord, QFullWord)) and q.op == "fuzzy":
            cands = [q.word] + [w for w, _s in fuzz_list(self.fuzzy_config, q.word)]
            cls = type(q)
            for w in cands[:16]:
                node = cls(w, "nocase")
                if self.compiler().eval(node).limit(1).count() > 0:
                    return node
            return cls(q.word, "nocase")
        if isinstance(q, QSeq):
            return QSeq(
                q.op, tuple(self._resolve_fuzzy(x) for x in q.legs), q.dist
            )
        if isinstance(q, QBoost):
            return QBoost(q.weight, self._resolve_fuzzy(q.query))
        if isinstance(q, QContext):
            return QContext(q.contexts, self._resolve_fuzzy(q.query))
        return q

    def _parsed(self, query):
        """The query's AST, parsed once per query text."""
        if not isinstance(query, str):
            return self._ast(query)
        ast = self._ast_cache.get(query)
        if ast is None:
            gen = self._gen
            ast = self._ast(query)
            self._cache_put(self._ast_cache, query, ast, gen)
        return ast

    def _scored(self, query, ast=None) -> DataFrame:
        """The doc-level scored frame (doc_id, score) of the full plan,
        collapse_contexts(eval(ast)): one row per matching doc, compiled
        once per query text for both the top-k plan and the count."""
        frame = self._frame_cache.get(query) if isinstance(query, str) else None
        if frame is None:
            gen = self._gen
            c = self.compiler()
            frame = c.collapse_contexts(
                c.eval(ast if ast is not None else self._parsed(query))
            )
            if isinstance(query, str):
                self._cache_put(self._frame_cache, query, frame, gen)
        return frame

    def search_page(
        self, query, k: int = 10, offset: int = 0, fields: list[str] | None = None
    ) -> tuple[list, int]:
        """One /search request: (the rows search(query, k, offset,
        fields) collects, search_count(query)).

        A WAND-shaped query is answered on the driver with no Spark job
        when the WAND gate is open, its terms' blocks hold at most
        DRIVER_POSTINGS postings and doc_meta holds at most
        DRIVER_DOC_META_BYTES committed bytes (_driver_page). Any
        other query runs the full plan, whose count reuses the
        plan's compiled frame."""
        page = self._driver_page(query, k, offset, fields or [])
        if page is not None:
            return page
        rows = self.search(query, k=k, offset=offset, fields=fields).collect()
        return rows, self.search_count(query)

    def _driver_page(self, query, k: int, offset: int, fields: list[str]):
        """search_page on the driver: _wand_top gives the docs that can
        reach the page, which get their doc_meta row by a pyarrow doc_id
        filter, the doc weight multiplied in as in _search_plan, and
        sort by (score DESC, url ASC). None when the route does not
        apply."""
        shape = compile_wand(self._parsed(query))
        if shape is None:
            return None
        wx = self.wand()
        if wx is None:
            return None
        snaps = self.catalog.current_entries("doc_meta")
        if sum(p["bytes"] for e in snaps for p in e["lineage"]) > DRIVER_DOC_META_BYTES:
            return None
        # the columns every doc_meta snapshot recorded at commit (an
        # empty snapshot has no files to read a schema from)
        names = {
            f["name"] for e in snaps for f in json.loads(e["schema"])["fields"]
        }
        out, extra = self._projection(fields, names)
        top = self._wand_top(wx, shape, k + offset)
        if top is None:
            return None
        ids, scores, total = top
        if len(ids) == 0:
            return [], total
        scores = scores * wx.doc_weight
        want = ["doc_id", "url", "weight", *(f for f, col in extra if col)]
        if not all(col for _f, col in extra):
            want.append("description")
        meta = self._doc_meta_arrow(snaps, ids, list(dict.fromkeys(want)))
        if meta is None or meta.num_rows < len(ids):
            return None  # a posting without doc_meta: the join drops it
        cols = {name: meta[name].to_pylist() for name in meta.column_names}
        if "description" in cols:
            cols["description"] = [
                None if d is None else dict(d) for d in cols["description"]
            ]
        cols["score"] = scores[
            np.searchsorted(ids, meta["doc_id"].to_numpy())
        ].tolist()
        for f, col in extra:
            if not col:
                cols[f] = [None if d is None else d.get(f)
                           for d in cols["description"]]
        order = sorted(range(meta.num_rows),
                       key=lambda i: (-cols["score"][i], cols["url"][i]))
        row = Row(*out)
        return [row(*(cols[f][i] for f in out)) for i in order[offset:k + offset]], total

    def _wand_top(self, wx: WandExecutor, shape, n: int):
        """(doc ids ascending, scores, total) of a WAND-shaped query:
        the matching docs whose final score (times the uniform doc
        weight) is at least the n-th best, ties included (url breaks
        them later), their scores with the context weight multiplied in
        as in collapse_contexts, and the number of matching docs. The
        caller multiplies the doc weight in. None above DRIVER_POSTINGS
        postings."""
        c = self.compiler()
        op, legs = shape
        hits = wx.topk_candidates(op, legs, c.default_contexts)
        if hits is None:
            return None
        ids, scores = hits
        total = len(ids)
        # at most one context (the WAND gate)
        cw = c.stats.context_weights.get(c.all_contexts[0], 1.0) if c.all_contexts else 1.0
        scores = scores * cw
        if n <= 0:
            ids, scores = ids[:0], scores[:0]
        elif total > n:
            final = scores * wx.doc_weight
            keep = final >= np.partition(final, total - n)[total - n]
            ids, scores = ids[keep], scores[keep]
        return ids, scores, total

    @staticmethod
    def _projection(fields, columns) -> tuple[list[str], list[tuple[str, bool]]]:
        """search's result columns for ``fields`` over doc_meta's
        ``columns``: (all of them in order, the extra fields each with
        whether it is a doc_meta column or else a description key —
        Hunt mkSelect projects from the stored DocDesc,
        Interpreter.hs:585-593). WeightAPI (API.hs:110-113) adds the
        document weight when asked. KeyError for a field that is
        neither."""
        fields = fields or []
        extra = []
        for f in fields:
            if f in ("doc_id", "url", "weight"):
                continue
            if f in columns:
                extra.append((f, True))
            elif "description" in columns:
                extra.append((f, False))
            else:
                raise KeyError(f"unknown field {f!r}")
        out = ["doc_id", "url", "score",
               *(["weight"] if "weight" in fields else []),
               *(f for f, _col in extra)]
        return out, extra

    @staticmethod
    def _doc_meta_arrow(snaps: list[dict], ids, columns: list[str]):
        """doc_meta's ``columns`` for the doc ids ``ids``, read with
        pyarrow from the snapshot directories ``snaps``; None when no
        snapshot holds a data file."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        sets = [ds.dataset(e["path"], format="parquet") for e in snaps]
        sets = [d for d in sets if "doc_id" in d.schema.names]
        if not sets:
            return None
        flt = ds.field("doc_id").isin(pa.array(ids, type=pa.int64()))
        parts = [
            d.to_table(columns=[n for n in columns if n in d.schema.names], filter=flt)
            for d in sets
        ]
        return pa.concat_tables(parts, promote_options="permissive")

    def search(
        self,
        query,
        k: int = 10,
        offset: int = 0,
        use_wand: bool | str = "auto",
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Scored top-k retrieval: (doc_id, url, score [, fields...]),
        tie-break (score DESC, url ASC) — Hunt's RankedDoc order
        (Intermediate.hs:371-384) via TakeOrderedAndProject.

        ``fields`` selects additional doc_meta columns into the result
        (Hunt mkSelect field projection, Interpreter.hs:585-593).
        ``use_wand="auto"`` scores flat AND/OR-of-exact-words queries
        on the driver from the blocks artifact (plans/wand.py) when the
        WAND gate is open and their terms hold at most DRIVER_POSTINGS
        postings, else runs the full plan; ``True`` requires the
        former, ``False`` the latter. Both give the same page."""
        key = None
        if isinstance(query, str):
            key = (query, k, offset, use_wand, tuple(fields or ()))
            cached = self._plan_cache.get(key)
            if cached is not None:
                return cached
        gen = self._gen
        res = self._search_plan(query, k, offset, use_wand, fields)
        if key is not None:
            self._cache_put(self._plan_cache, key, res, gen)
        return res

    def _cache_put(self, cache: dict, key, value, gen: int, cap: int = 256) -> None:
        """Insert with FIFO eviction, unless a mutation invalidated the
        engine since generation ``gen`` (the value may predate it).
        Readers take entries with one lock-free ``.get()``."""
        with self._cache_lock:
            if gen != self._gen:
                return
            while len(cache) >= cap:
                cache.pop(next(iter(cache)))
            cache[key] = value

    def _search_plan(
        self, query, k: int, offset: int, use_wand, fields
    ) -> DataFrame:
        ast = self._parsed(query)
        scored = None
        if use_wand in ("auto", True):
            shape = compile_wand(ast)
            if shape is None:
                if use_wand is True:
                    raise ValueError("query shape not WAND-compilable")
            else:
                wx = self.wand()
                top = None if wx is None else self._wand_top(wx, shape, k + offset)
                if top is not None:
                    import pyarrow as pa

                    ids, scores, _total = top
                    # from Arrow: a local relation, which a re-collect of
                    # the cached plan reads with no Python worker
                    scored = self.spark.createDataFrame(
                        pa.table({"doc_id": ids, "score": scores})
                    )
                elif use_wand is True:
                    # state-dependent (not a query-shape) conditions:
                    # name the reason instead of a misleading error
                    why = (self._wand_unavailable if wx is None else
                           "the query terms hold more than DRIVER_POSTINGS"
                           f" = {wand_plan.DRIVER_POSTINGS} postings")
                    raise RuntimeError(f"WAND unavailable: {why}")
        if scored is None:
            scored = self._scored(query, ast)
        dm = self.doc_meta()
        out, extra = self._projection(fields, dm.columns)
        proj = [
            F.col(f) if col else F.try_element_at("description", F.lit(f)).alias(f)
            for f, col in extra
        ]
        meta = dm.select("doc_id", "url", "weight", *proj)
        res = scored.join(meta, "doc_id").select(
            *out[:2], (F.col("score") * F.col("weight")).alias("score"), *out[3:]
        )
        res = res.orderBy(F.desc("score"), F.asc("url"))
        if offset:
            res = res.offset(offset)
        return res.limit(k)

    def search_count(self, query) -> int:
        """Total number of matching documents — the reference's
        ``lrCount`` (size of the complete result BEFORE offset/limit,
        ApiDocument.hs:60,72-81; Interpreter.hs execSearch): the rows of
        the scored frame the top-k plan is built on, so the query is not
        compiled again. Cached per query string; invalidated with the
        plan cache on mutation."""
        key = query if isinstance(query, str) else None
        n = self._count_cache.get(key) if key is not None else None
        if n is None:
            gen = self._gen
            # one row per matching doc: the count of select(query)
            n = self._scored(query).count()
            if key is not None:
                self._cache_put(self._count_cache, key, n, gen)
        return n

    def select(self, query) -> DataFrame:
        """Unscored doc-id set (Hunt Select / DeleteByQuery evaluation,
        Processor.hs:194-246 — no limits, payloads collapsed to a set)."""
        c = self.compiler()
        return c.eval(self._ast(query)).select("doc_id").distinct()

    def completion(
        self, prefix: str, k: int = 10, contexts=None, doc_filter: DataFrame | None = None
    ) -> DataFrame:
        """Scored word suggestions: word score = sum over docs of
        sim * tf (Intermediate.hs:479-484), top-k words. ``doc_filter``
        (a doc_id frame) restricts to words occurring in those docs —
        the filterByDocSet half of query completion."""
        c = self.compiler()
        cxs = tuple(contexts) if contexts else c.default_contexts
        if doc_filter is None:
            # plan-cached like search(): DataFrames are immutable plans,
            # re-executed per collect, invalidated on mutation
            key = ("completion", prefix, k, cxs)
            cached = self._plan_cache.get(key)
            if cached is not None:
                return cached
            gen = self._gen
            res = self._completion_plan(prefix, k, cxs)
            self._cache_put(self._plan_cache, key, res, gen)
            return res
        return self._completion_plan(prefix, k, cxs, doc_filter)

    def _completion_plan(
        self, prefix: str, k: int, cxs, doc_filter: DataFrame | None = None
    ) -> DataFrame:
        c = self.compiler()

        def _cap_words(df: DataFrame) -> DataFrame:
            # wordLimit applies to completion expansion like any other
            # prefix scan (Hunt limitWords, shortest-first per context)
            if self.word_limit <= 0:
                return df
            from pyspark.sql.window import Window

            w = Window.partitionBy("context").orderBy(
                F.length("term_lc"), F.col("term_lc")
            )
            allowed = (
                df.select("context", "term_lc").distinct()
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= self.word_limit)
                .drop("_rn")
            )
            return df.join(allowed, ["context", "term_lc"], "left_semi")

        if doc_filter is None:
            tt = self._fresh_term_totals()
            if tt is not None:
                # dictionary path: per-term score = sim * sum(tf) —
                # identical to the postings aggregation because sim
                # depends only on (prefix, term). Scans a vocab-sized
                # sorted table (startswith prunes parquet row groups)
                # instead of the postings fact table.
                return (
                    _cap_words(
                        tt.filter(F.col("context").isin(list(cxs)))
                        .filter(F.col("term_lc").startswith(prefix.lower()))
                    )
                    .withColumn("sim", sim_col(prefix, F.col("term")))
                    .filter(F.col("sim") > 0)
                    .groupBy("term")
                    .agg(F.sum(F.col("sim") * F.col("sum_tf")).alias("score"))
                    .orderBy(F.desc("score"), F.asc("term"))
                    .limit(k)
                )
        p = c.postings.filter(F.col("context").isin(list(cxs)))
        p = p.filter(F.col("term_lc").startswith(prefix.lower()))
        p = _cap_words(p)
        if doc_filter is not None:
            p = p.join(doc_filter.select("doc_id"), "doc_id", "left_semi")
        return (
            p.withColumn("sim", sim_col(prefix, F.col("term")))
            .filter(F.col("sim") > 0)
            .groupBy("term")
            .agg(F.sum(F.col("sim") * F.col("tf")).alias("score"))
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(k)
        )

    def _fresh_term_totals(self) -> DataFrame | None:
        """term_totals artifact iff it reflects the current doc set
        (_derived_fresh; _refresh_stats recommits it tombstone-filtered
        after every mutation, so this is normally fresh). Stale or
        missing -> None, caller falls back to the postings scan. No
        Spark job on the serving path; the frame is cached until the
        next mutation so repeat completions skip the catalog re-read."""
        tt = self._term_totals
        if tt is not None:
            return tt
        gen = self._gen
        if not self._derived_fresh(["term_totals"]):
            return None
        try:
            tt = self.catalog.read(self.spark, "term_totals")
        except FileNotFoundError:
            return None
        self._remember(gen, _term_totals=tt)
        return tt

    def complete_query(self, query: str, k: int = 10) -> DataFrame:
        """Completion over a whole query being typed (Hunt
        processQueryScoredWords, Processor.hs:311-366): for an AND
        sequence, all-but-the-last legs are evaluated as an unscored
        doc set (Select semantics), the last word runs as a prefix
        scan filtered by that set (filterByDocSet,
        Intermediate.hs:214-225), and surviving words are ranked by
        sum(sim x tf)."""
        from hunt_spark.plans.ast import QContext, QFullWord, QSeq, QWord

        from hunt_spark.plans.ast import QPhrase

        ast = self._ast(query)
        cxs = None
        if isinstance(ast, QContext):
            cxs = list(ast.contexts)
            ast = ast.query
        if isinstance(ast, (QWord, QFullWord)):
            return self.completion(ast.word, k=k, contexts=cxs)
        if isinstance(ast, QPhrase):
            # normPhraseQuery (Processor.hs:453-478): the last word of
            # the phrase being typed is the prefix; preceding words
            # restrict the doc set as a phrase
            words = ast.phrase.split()
            if len(words) == 1:
                return self.completion(words[0], k=k, contexts=cxs)
            head = QPhrase(" ".join(words[:-1]), ast.op)
            if cxs is not None:
                head = QContext(tuple(cxs), head)
            return self.completion(
                words[-1], k=k, contexts=cxs, doc_filter=self.select(head)
            )
        if isinstance(ast, QSeq) and ast.op == "and":
            last = ast.legs[-1]
            if not isinstance(last, (QWord, QFullWord)):
                raise ValueError("completion needs a word as the last leg")
            head = (
                ast.legs[0]
                if len(ast.legs) == 2
                else QSeq("and", tuple(ast.legs[:-1]))
            )
            if cxs is not None:
                head = QContext(tuple(cxs), head)
            doc_set = self.select(head)
            return self.completion(last.word, k=k, contexts=cxs, doc_filter=doc_set)
        raise ValueError(f"unsupported completion query shape: {query!r}")

    # ------------------------------------------------------------------
    # maintenance verbs (InsertList / DeleteDocs / DeleteByQuery /
    # Update — Interpreter.hs:323-368 dispatch)
    # ------------------------------------------------------------------
    def _check_contexts(self, context_cols: dict[str, Column]) -> None:
        """Hunt rejects inserts into unregistered contexts
        (InterpreterTests: 'insert into non-existent context fails') —
        including on a completely fresh index, whose context set is
        empty (initHunt starts with zero contexts). Only a legacy
        catalog that predates the schema table (has snapshots but no
        schema) skips the check."""
        sch = self._sync_cfg_from_schema()
        if sch is None and not self.catalog.snapshots():
            sch = {}
        if sch is not None:
            unknown = sorted(set(context_cols) - set(sch))
            if unknown:
                raise KeyError(f"unknown contexts: {unknown}")

    @_mutating
    def insert(
        self,
        docs: DataFrame,
        context_cols: dict[str, Column],
        refresh_stats: bool = True,
        validate_uris: bool = True,
    ) -> None:
        """Incremental insert: append postings/doc_meta snapshots, then
        recompute stats (Iceberg appends on a cluster). Streaming
        micro-batches pass ``refresh_stats=False`` and refresh once per
        trigger window (stats are global aggregates; per-batch refresh
        would serialize the stream on two extra jobs per batch).

        ``validate_uris`` mirrors Hunt's insert checks
        (Interpreter.hs:421-480): a URI duplicated within the batch or
        already present in the index is an error — Update is the
        re-index verb. Streaming/bulk paths may disable it (two extra
        jobs per call)."""
        self._check_contexts(context_cols)
        # decide BEFORE committing: stats can be maintained
        # incrementally (O(batch+vocab)) only when the stored artifacts
        # exactly describe the pre-insert live doc set AND the batch is
        # provably disjoint from it — the disjointness (no duplicate or
        # tombstoned doc_ids, which would double-count df/n_docs) is
        # only enforced when validate_uris is on, so an unvalidated
        # insert must take the full recompute path to stay exact
        stats_were_fresh = (
            refresh_stats and validate_uris and self._derived_fresh()
        )
        docs = docs.withColumn("doc_id", F.xxhash64("url"))
        if validate_uris:
            dup = (
                docs.groupBy("url").count().filter(F.col("count") > 1)
                .select("url").limit(5).collect()
            )
            if dup:
                raise ValueError(
                    f"duplicate URIs in insert batch: {[r['url'] for r in dup]}"
                )
            try:
                existing = (
                    docs.select("doc_id")
                    .join(self.doc_meta().select("doc_id"), "doc_id", "left_semi")
                    .limit(1).count()
                )
            except FileNotFoundError:  # first insert into a fresh catalog
                existing = 0
            if existing:
                raise ValueError(
                    "insert of already-indexed URI(s); use update() to re-index"
                )
            # a tombstoned URI can't be re-inserted until compact():
            # doc_id = xxhash64(url), so the pending tombstone would
            # anti-join the NEW postings too — the doc would be
            # silently unsearchable, while incremental stats counted it
            # as live (phantom doc in n_docs/df/avg_dl)
            t = self._tombstones()
            if t is not None:
                dead = (
                    docs.select("doc_id")
                    .join(t.select("doc_id"), "doc_id", "left_semi")
                    .limit(1).count()
                )
                if dead:
                    raise ValueError(
                        "insert of URI(s) with a pending tombstone; run "
                        "compact() to consume tombstones before re-inserting"
                    )
        if "weight" not in docs.columns:
            docs = docs.withColumn("weight", F.lit(1.0))
        if not context_cols:
            # description-only ApiDocument (legal in the reference:
            # empty index map) — metadata lands, no postings and no
            # stats change; the old path crashed on per_cx[0]
            meta_cols = [
                c
                for c in ("doc_id", "url", "weight", "lang", "warc_ts",
                          "description")
                if c in docs.columns
            ]
            self.catalog.commit(
                docs.select(*meta_cols), "doc_meta", "insert/meta",
                mode="append",
            )
            self._invalidate()
            return
        new_p = postings_from_contexts(docs, context_cols, self.cfg)
        p_entry = self.catalog.commit(
            new_p,
            "postings",
            f"insert/{docs.semanticHash() if hasattr(docs, 'semanticHash') else id(docs)}",
            partition_by=["context", "shard"],
            sort_within_by=["term_lc", "doc_id"],
            mode="append",
        )
        meta_cols = [
            c
            for c in ("doc_id", "url", "weight", "lang", "warc_ts", "description")
            if c in docs.columns
        ]
        self.catalog.commit(
            docs.select(*meta_cols), "doc_meta", "insert/meta", mode="append"
        )
        if refresh_stats:
            if stats_were_fresh:
                # feed the merge from the just-committed delta snapshot
                # (pinned catalog read: already materialized, and the
                # catalog's empty-snapshot fallback covers a batch whose
                # every token was rejected — raw spark.read.parquet
                # can't infer a schema from a data-file-less snapshot)
                self._refresh_stats_incremental(
                    self.catalog.read(
                        self.spark, "postings",
                        pinned_snapshot=p_entry["snapshot_id"],
                    )
                )
            else:
                self._refresh_stats()
        else:
            self._invalidate()

    @_mutating
    def update(self, docs: DataFrame, context_cols: dict[str, Column]) -> None:
        """Hunt Update (Interpreter.hs:488-504 -> ContextIndex.hs:326-354
        modifyWithDescription): re-index the given documents and MERGE
        their metadata. Descriptions merge key-wise — new keys win,
        untouched old keys survive, a null value in the new description
        deletes the key (``flip DocDesc.union`` + ``deleteNull``; golden
        behavior mirrored from test/Hunt/InterpreterTests.hs:479-528).
        The doc weight updates only when the update provides one
        (``updateWeight`` keeps the old weight on noScore).

        Postings are a MERGE-style rewrite — old rows of the updated doc
        ids are anti-joined out and fresh postings appended in one new
        base snapshot (a tombstone cannot express 'old rows only': it
        would also kill the re-inserted doc_id). On Iceberg this is
        MERGE INTO, rewriting only the matching files.

        A description-only update (empty ``context_cols`` — the
        hunt-test/doc-update golden workflow) leaves the postings
        untouched and merges metadata only, like modifyWithDescription
        with empty Words."""
        self._check_contexts(context_cols)
        docs = docs.withColumn("doc_id", F.xxhash64("url"))
        ids = docs.select("doc_id")
        if context_cols:
            new_p = postings_from_contexts(docs, context_cols, self.cfg)
            merged = (
                self._postings()
                .join(ids, "doc_id", "left_anti")
                .unionByName(new_p)
            )
            self.catalog.commit(
                merged, "postings", "update/postings",
                partition_by=["context", "shard"],
                sort_within_by=["term_lc", "doc_id"],
            )
        old = self.doc_meta()
        if "description" not in old.columns:
            old = old.withColumn(
                "description", F.lit(None).cast("map<string,string>")
            )
        untouched = old.join(ids, "doc_id", "left_anti")
        old_rows = old.join(ids, "doc_id", "left_semi").select(
            "doc_id",
            *[F.col(c).alias(f"_old_{c}") for c in old.columns if c != "doc_id"],
        )
        upd_cols = [
            c
            for c in ("doc_id", "url", "weight", "lang", "warc_ts", "description")
            if c in docs.columns
        ]
        # left join: an Update may also introduce brand-new docs (Hunt's
        # Update inserts when the URI is unknown)
        j = docs.select(*upd_cols).join(old_rows, "doc_id", "left")
        empty_map = F.from_json(F.lit("{}"), "map<string,string>")
        sel = [F.col("doc_id"), F.col("url")]
        if "weight" in docs.columns:
            sel.append(F.col("weight"))
        else:  # noScore -> keep the old weight
            sel.append(F.coalesce(F.col("_old_weight"), F.lit(1.0)).alias("weight"))
        for c in ("lang", "warc_ts"):
            if c in docs.columns:
                sel.append(F.col(c))
            elif f"_old_{c}" in j.columns:
                sel.append(F.col(f"_old_{c}").alias(c))
        if "description" in docs.columns:
            old_d = F.coalesce(F.col("_old_description"), empty_map)
            new_d = F.coalesce(F.col("description"), empty_map)
            merged_d = F.map_concat(
                F.map_filter(
                    old_d, lambda k, _v: ~F.array_contains(F.map_keys(new_d), k)
                ),
                F.map_filter(new_d, lambda _k, v: v.isNotNull()),
            )
            sel.append(merged_d.alias("description"))
        else:  # no new description -> keep the old one untouched
            sel.append(F.col("_old_description").alias("description"))
        m = untouched.unionByName(j.select(*sel), allowMissingColumns=True)
        self.catalog.commit(m, "doc_meta", "update/doc_meta")
        if context_cols:
            # the rewritten postings base came from the tombstone-
            # filtered view (self._postings()), so every tombstone is
            # consumed — and MUST be cleared, or a pending tombstone for
            # an updated doc_id would anti-join its fresh rows out
            # (update of a deleted URI = silently invisible document).
            # Cleared only AFTER the doc_meta commit above: catalog
            # reads pin snapshot paths at construction, so clearing
            # first would make the doc_meta rewrite anti-join against
            # an already-empty tombstone set and resurrect every
            # previously deleted document's metadata.
            empty_t = self.spark.createDataFrame([], "doc_id long")
            self.catalog.commit(empty_t, "tombstones", "update/tombstones")
            self._refresh_stats()
        else:
            # description-only update: postings untouched, so every
            # stats artifact is provably unchanged — a full O(corpus)
            # re-aggregation per metadata edit would be pure waste
            self._invalidate()

    @_mutating
    def insert_context(
        self,
        name: str,
        ctype: str = "text",
        weight: float = 1.0,
        regex: str | None = None,
        default: bool = True,
        normalizers: list[str] | None = None,
    ) -> None:
        """Hunt InsertContext (Command.hs:71-73): register a new context
        in the schema at runtime — no rebuild; postings for it arrive
        through subsequent insert()/update() calls whose context_cols
        include the new context. ``regex`` is the ContextSchema cxRegEx
        scan override (Schema.hs:77-92) — None scans with the type
        default; ``default=False`` is cxDefault (Schema.hs:89) —
        excluded from unrestricted-query fan-out. Duplicate
        registration fails, mirroring the reference (InterpreterTests
        'inserting a context twice')."""
        from hunt_spark.functions.analysis import is_known_ctype

        # the full reference default set (Interpreter.hs:185
        # contextTypes): text, text-small, int, date, position,
        # position-rtree — plus the rebuild's native "geo" name and
        # any registered ContextTypePlugin (the open CType set,
        # extended-hunt Main.hs:65-71). Declared names are kept on the
        # schema surface; storage and planning canonicalize
        # (position/position-rtree -> geo).
        if not is_known_ctype(ctype):
            raise ValueError(f"unknown context type {ctype!r}")
        if regex is not None:
            import re as _re

            try:
                _re.compile(regex)
            except _re.error as e:
                raise ValueError(f"bad context regex {regex!r}: {e}") from e
        from hunt_spark.functions.analysis import CHAIN_NORMALIZERS

        for nm in normalizers or []:
            # the reference resolves names against its configured set
            # and rejects unknowns (Interpreter.hs:165-169 FromJSON)
            if nm not in CHAIN_NORMALIZERS:
                raise ValueError(f"unknown normalizer {nm!r}")
        sch = self._schema() or {}
        if name in sch:
            raise ValueError(f"context {name!r} already exists")
        sch[name] = (
            ctype, float(weight), regex, bool(default),
            tuple(normalizers or ()),
        )
        self._commit_schema(sch, f"insert_context/{name}")
        if ctype != "text":
            self.cfg.context_types[name] = ctype
        self.cfg.context_weights[name] = float(weight)
        if regex is not None:
            self.cfg.context_regexes[name] = regex
        self.cfg.context_defaults[name] = bool(default)
        if normalizers:
            self.cfg.context_normalizers[name] = list(normalizers)
        self._invalidate()

    @_mutating
    def delete_context(self, name: str) -> None:
        """Hunt DeleteContext (Command.hs:74-75): drop a context and all
        its index data. With the (context, shard) partition layout this
        is a partition delete — on Iceberg a metadata-only DROP
        PARTITION; here the base snapshot is rewritten without the
        context's partitions — then stats refresh and the WAND gate
        closes until the blocks artifact is rebuilt (compact())."""
        sch = self._schema()
        if sch is None or name not in sch:
            raise KeyError(f"unknown context {name!r}")
        p = self._postings().filter(F.col("context") != name)
        self.catalog.commit(
            p, "postings", f"delete_context/{name}",
            partition_by=["context", "shard"],
            sort_within_by=["term_lc", "doc_id"],
        )
        del sch[name]
        self._commit_schema(sch, f"delete_context/{name}/schema")
        self.cfg.context_types.pop(name, None)
        self.cfg.context_weights.pop(name, None)
        self.cfg.context_regexes.pop(name, None)
        self.cfg.context_defaults.pop(name, None)
        self.cfg.context_normalizers.pop(name, None)
        self._refresh_stats()

    @_mutating
    def delete_docs(self, urls: list[str]) -> None:
        t = self.spark.createDataFrame([(u,) for u in urls], "url string").select(
            F.xxhash64("url").alias("doc_id")
        )
        # deleting an unknown URI is a no-op (Hunt's delete ignores
        # absent docs); tombstoning it anyway would block that URI's
        # FIRST insert behind the pending-tombstone guard until compact
        try:
            t = t.join(
                self.doc_meta().select("doc_id"), "doc_id", "left_semi"
            )
        except FileNotFoundError:
            return
        self._tombstone(t, "delete/docs")

    @_mutating
    def delete_by_query(self, query) -> None:
        self._tombstone(self.select(query), "delete/query")

    def _tombstone(self, ids: DataFrame, key: str) -> None:
        """Append ``ids`` as a tombstones delta and refresh the stats.
        No match commits nothing: an empty delta would still cost a
        full O(corpus) stats refresh and empty the plan cache."""
        if ids.isEmpty():
            return
        self.catalog.commit(ids, "tombstones", key, mode="append")
        self._refresh_stats()

    def _derived_fresh(
        self, tables=tuple(STATS_TABLES), deps=("postings", "tombstones")
    ) -> bool:
        """True iff every derived table in ``tables`` was committed
        after the newest snapshot of every table in ``deps`` — i.e. it
        describes the current doc set. Compared by manifest seq (the
        append order == commit order); snapshot-id strings would order
        randomly for two commits in the same millisecond. Manifest-only,
        no Spark job."""
        newest = {e["table"]: e["seq"] for e in self.catalog.snapshots()}
        dep_seq = max((newest.get(d, -1) for d in deps), default=-1)
        return all(t in newest and newest[t] >= dep_seq for t in tables)

    def _refresh_stats_incremental(self, new_p: DataFrame) -> None:
        """Merge a disjoint insert batch's stats into the stored stats
        artifacts in O(batch + vocab) instead of _refresh_stats'
        O(corpus) postings rescan — at 10^12 docs a full-corpus
        re-aggregation per 1k-doc insert is the difference between a
        trillions-row shuffle and a vocabulary-sized (~10^8 rows) one.

        Exactness (bitwise-identical to a full recompute, pinned by
        test_incremental_stats): insert() guarantees batch doc_ids are
        disjoint from the live set (duplicate-URI inserts are errors,
        Interpreter.hs:421-480), so df (distinct docs per term) and
        n_docs are additive, max_tf is a max-merge, and sum_tf is
        additive — all integer operations. avg_dl is the only double:
        both paths compute it as one division of the same exact integer
        pair (total tf recovered from the merged term_totals, not from
        the stored double avg_dl)."""
        old_ts = self.catalog.read(self.spark, "term_stats")
        old_tt = self.catalog.read(self.spark, "term_totals")
        old_cs = self.catalog.read(self.spark, "context_stats")
        bt = term_stats(new_p)
        btt = term_totals(new_p)

        merged_ts = (
            old_ts.select(
                "context", "term_lc",
                F.col("df").alias("o_df"), F.col("max_tf").alias("o_max"),
            )
            .join(
                bt.select(
                    "context", "term_lc",
                    F.col("df").alias("n_df"), F.col("max_tf").alias("n_max"),
                ),
                ["context", "term_lc"],
                "full",
            )
            .select(
                "context", "term_lc",
                (F.coalesce("o_df", F.lit(0)) + F.coalesce("n_df", F.lit(0)))
                .alias("df"),
                F.greatest(
                    F.coalesce("o_max", F.lit(0)), F.coalesce("n_max", F.lit(0))
                ).alias("max_tf"),
            )
        )
        merged_tt = (
            old_tt.select(
                "context", "term", "term_lc", F.col("sum_tf").alias("o_tf")
            )
            .join(
                btt.select(
                    "context", "term", "term_lc", F.col("sum_tf").alias("n_tf")
                ),
                ["context", "term", "term_lc"],
                "full",
            )
            .select(
                "context", "term", "term_lc",
                (F.coalesce("o_tf", F.lit(0)) + F.coalesce("n_tf", F.lit(0)))
                .alias("sum_tf"),
            )
        )
        batch_docs = new_p.groupBy("context").agg(
            F.countDistinct("doc_id").alias("b_docs")
        )
        ctx_tf = merged_tt.groupBy("context").agg(
            F.sum("sum_tf").alias("tot_tf")
        )
        merged_cs = (
            old_cs.select("context", F.col("n_docs").alias("o_docs"))
            .join(batch_docs, "context", "full")
            .select(
                "context",
                (F.coalesce("o_docs", F.lit(0)) + F.coalesce("b_docs", F.lit(0)))
                .alias("n_docs"),
            )
            .join(ctx_tf, "context")
            .select(
                "context", "n_docs",
                (F.col("tot_tf") / F.col("n_docs")).alias("avg_dl"),
            )
        )
        for name, merged in (
            ("context_stats", merged_cs),
            ("term_stats", merged_ts),
            ("term_totals", merged_tt),
        ):
            commit_stats(self.catalog, name, f"insert/{name}_delta", merged)
        self._invalidate()

    def refresh_stats(self) -> None:
        """Public stats refresh — the verb a streaming/bulk caller uses
        after inserts made with ``refresh_stats=False`` (stats are
        global aggregates; per-micro-batch refresh would serialize the
        stream on extra jobs per trigger)."""
        self._refresh_stats()

    def _refresh_stats(self) -> None:
        self._invalidate()
        # the postings are tombstone-filtered, so the refreshed tables
        # (term_totals too) are exact for the live doc set — the
        # completion fast path stays open across the mutation lifecycle
        # without re-counting tombstones
        commit_all_stats(self.catalog, self._postings(), "refresh")
        self._invalidate()

    @_mutating
    def compact(self) -> None:
        """Rewrite postings minus tombstones as a fresh base snapshot
        (Hunt segment merge; Iceberg rewrite_data_files), refresh stats
        and rebuild the blocks artifact — once tombstones are consumed
        the WAND gate reopens, so blocks must reflect the compacted
        postings (doc set AND baked df/idf)."""
        p = self._postings()
        self.catalog.commit(
            p, "postings", "compact/postings",
            partition_by=["context", "shard"], sort_within_by=["term_lc", "doc_id"],
        )
        m = self.doc_meta()
        self.catalog.commit(m, "doc_meta", "compact/doc_meta")
        # tombstones consumed
        empty = self.spark.createDataFrame([], "doc_id long")
        self.catalog.commit(empty, "tombstones", "compact/tombstones")
        self._invalidate()
        p2 = self.catalog.read(self.spark, "postings")
        commit_all_stats(self.catalog, p2, "compact")
        if self.cfg.build_blocks:
            commit_blocks(self.spark, self.catalog, p2, self.cfg, "compact/blocks")
        self._invalidate()

    # ------------------------------------------------------------------
    # StoreIx / LoadIx (BasicCommand.hs:30-79 LoadIx/StoreIx) and the
    # status sub-commands (StatusCmd: gc | doctable | index | context)
    # ------------------------------------------------------------------
    @_mutating
    def store_index(self, path: str) -> dict:
        """StoreIx: export the index's CURRENT state to ``path`` as a
        standalone catalog. Metadata-only — the new manifest pins the
        current snapshot set of every table by reference (the Iceberg
        snapshot-export shape: data files are immutable and shared, only
        metadata is written), so this is O(tables) at any corpus size.
        The exported catalog stays valid as long as the source catalog
        does not expire_snapshots() past the pinned set — the same
        lifetime contract as an Iceberg metadata-only clone."""
        import json as _json
        import os as _os

        _os.makedirs(path, exist_ok=True)
        tables = sorted({e["table"] for e in self.catalog.snapshots()})
        pinned = []
        for t in tables:
            snaps = self.catalog.snapshots(t)
            paths = set(self.catalog.current_paths(t))
            pinned.extend(e for e in snaps if e["path"] in paths)
        # seq is re-derived from line index on read, so the export MUST
        # write entries in original commit order: grouping by table name
        # would give blocks.seq < postings.seq on every load and the
        # wand() staleness gate would silently disable WAND on
        # loaded indexes forever.
        pinned.sort(key=lambda e: e["seq"])
        pinned = [{k: v for k, v in e.items() if k != "seq"} for e in pinned]
        manifest = _os.path.join(path, "_snapshots.jsonl")
        with open(manifest, "w") as f:
            for e in pinned:
                f.write(_json.dumps(e) + "\n")
        # layout-critical build config rides along: the query path
        # prunes exact-word lookups by pmod(xxhash64(term), n_shards),
        # so opening this catalog under a different shard count would
        # silently return wrong/empty results (same for the analysis
        # chain driven by context_types). Persisted here, restored and
        # enforced by load_index.
        with open(_os.path.join(path, "_index_meta.json"), "w") as f:
            _json.dump(self._layout_meta(), f)
        return {"path": path, "tables": tables, "snapshots": len(pinned)}

    def _layout_meta(self) -> dict:
        return {
            "n_shards": self.cfg.n_shards,
            "block_size": self.cfg.block_size,
            "build_blocks": self.cfg.build_blocks,
        }

    @_mutating
    def load_index(self, path: str) -> None:
        """LoadIx: open the catalog stored at ``path`` as the engine's
        index (deserialize-the-index verb). All cached plans/stats are
        dropped; the schema table of the loaded catalog re-seeds typed
        contexts and weights on next compile."""
        import os as _os

        import json as _json

        if not _os.path.exists(_os.path.join(path, "_snapshots.jsonl")):
            raise FileNotFoundError(f"no index catalog at {path!r}")
        cat = IndexCatalog(path)
        meta_path = _os.path.join(path, "_index_meta.json")
        if _os.path.exists(meta_path):
            # store_index exports carry the layout config; restore it —
            # querying under the wrong n_shards prunes exact lookups to
            # the wrong shard and silently returns empty/wrong results.
            with open(meta_path) as f:
                meta = _json.load(f)
            for k in self._layout_meta():
                if k in meta:
                    setattr(self.cfg, k, meta[k])
        else:
            # no _index_meta.json (not a store_index export): build-time
            # postings commits also record n_shards in the manifest —
            # authoritative and checked in BOTH directions (a 4-shard
            # catalog under a 16-shard engine prunes ~3/4 of exact
            # lookups to empty shards just as silently as the reverse).
            built = None
            for e in reversed(cat.snapshots("postings")):
                if "n_shards" in (e.get("meta") or {}):
                    built = e["meta"]["n_shards"]
                    break
            if built is not None:
                self.cfg.n_shards = built
            else:
                # truly legacy catalog (predates manifest layout meta):
                # the hive directory layout only bounds the shard count
                # from below (empty shards leave no dir), so only the
                # too-few-shards direction is detectable.
                observed = self._observed_shards(cat)
                if observed and max(observed) >= self.cfg.n_shards:
                    raise ValueError(
                        f"catalog at {path!r} has shard={max(observed)} on disk "
                        f"but engine is configured with n_shards={self.cfg.n_shards}; "
                        "export it with store_index (which records layout meta) "
                        "or construct the engine with the matching BuildConfig"
                    )
        self.catalog = cat
        # per-context config must derive from the LOADED catalog's
        # schema table, not linger from the previous one — ALL five
        # schema-backed dicts: _sync_cfg_from_schema seeds with
        # setdefault, so any stale entry (a regex/normalizer chain from
        # the previous catalog) would override the loaded schema,
        # corrupting both query-side analysis and subsequent inserts
        self.cfg.context_types = {}
        self.cfg.context_weights = {}
        self.cfg.context_regexes = {}
        self.cfg.context_defaults = {}
        self.cfg.context_normalizers = {}
        self._invalidate()

    @staticmethod
    def _observed_shards(cat: IndexCatalog) -> set[int]:
        import os as _os

        shards: set[int] = set()
        try:
            paths = cat.current_paths("postings")
        except Exception:
            return shards
        for p in paths:
            for _dirpath, dirs, _files in _os.walk(p):
                for d in dirs:
                    if d.startswith("shard="):
                        try:
                            shards.add(int(d.split("=", 1)[1]))
                        except ValueError:
                            pass
        return shards

    def status(self) -> dict:
        snaps = self.catalog.snapshots()
        return {
            "tables": sorted({e["table"] for e in snaps}),
            "snapshots": len(snaps),
            "latest": snaps[-1]["snapshot_id"] if snaps else None,
        }

    def status_gc(self) -> dict:
        """StatusGC (Interpreter.hs:714-720): runtime memory/GC stats.
        The JVM driver heap stands in for the Haskell RTS GCStats."""
        import gc as _gc

        rt = self.spark._jvm.java.lang.Runtime.getRuntime()  # noqa: SLF001
        return {
            "jvm_total_bytes": int(rt.totalMemory()),
            "jvm_free_bytes": int(rt.freeMemory()),
            "jvm_max_bytes": int(rt.maxMemory()),
            "py_gc_counts": list(_gc.get_count()),
        }

    def status_doctable(self, limit: int = 1000) -> dict:
        """StatusDocTable: document-table dump (capped — the reference's
        dump is declared /experimental/ and a full dump of a web-scale
        doc table through one driver is never the right call)."""
        dm = self.doc_meta()
        cols = [c for c in ("url", "weight", "description") if c in dm.columns]
        rows = dm.select(*cols).orderBy("url").limit(limit).collect()
        return {
            "count": dm.count(),
            "limit": limit,
            "docs": [
                {
                    "uri": r["url"],
                    "weight": float(r["weight"]) if "weight" in cols else 1.0,
                    "description": dict(r["description"])
                    if "description" in cols and r["description"]
                    else {},
                }
                for r in rows
            ],
        }

    def status_index(self) -> dict:
        """StatusIndex: per-context index statistics (docs, avg doc
        length, distinct terms, posting rows)."""
        c = self.compiler()
        per_term = (
            c.postings.groupBy("context")
            .agg(
                F.countDistinct("term").alias("n_terms"),
                F.count("*").alias("n_postings"),
            )
            .collect()
        )
        agg = {r["context"]: r for r in per_term}
        return {
            cx: {
                "n_docs": c.stats.n_docs.get(cx, 0),
                "avg_dl": c.stats.avg_dl.get(cx, 0.0),
                "n_terms": agg[cx]["n_terms"] if cx in agg else 0,
                "n_postings": agg[cx]["n_postings"] if cx in agg else 0,
            }
            for cx in c.all_contexts
        }

    def status_context(self, name: str, limit: int = 1000) -> dict:
        """StatusContext: per-term document frequencies of one context
        (capped dump)."""
        c = self.compiler()
        if name not in c.all_contexts:
            raise KeyError(f"unknown context {name!r}")
        rows = (
            c.postings.filter(F.col("context") == name)
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .orderBy("term")
            .limit(limit)
            .collect()
        )
        return {"context": name, "limit": limit,
                "terms": {r["term"]: r["df"] for r in rows}}
