"""HTTP API wrapper — the Spark analogue of hunt-server's Servant
surface (hunt-api/src/Hunt/API.hs:41-149, hunt-server/src/Hunt/Server.hs).

Endpoints (same paths, params and JSON wire shapes as the reference):

  GET    /search/:query?offset=0&limit=10  -> LimitedResult RankedDoc
  GET    /completion/:query?limit=10       -> [[word, score], ...]
  GET    /select/:query                    -> LimitedResult RankedDoc
  GET    /weight/:query                    -> LimitedResult (with weights)
  POST   /document                         -> insert ApiDocument
  PUT    /document                         -> update ApiDocument
  DELETE /document                         -> delete by the document's uri
  POST   /eval                             -> run Command(s) (Command.hs:194-224)
  GET    /status/...                       -> catalog status

Wire shapes (ApiDocument.hs:118-158, Command.hs:162-250):

  ApiDocument   {"uri": u, "index": {cx: text}, "description": {k: v},
                 "weight": w?}            -- weight omitted = noScore
  LimitedResult {"result": [...], "offset": o, "max": m, "count": n}
  RankedDoc     document JSON + {"score": s} (Intermediate.hs:386-392)
  CmdResult     {"code": 0, "res": ...}; errors {"code": c, "msg": m}
                (Command.hs:227-250)

Built on stdlib ``http.server`` only (no web framework in the sandbox);
the handler holds the SparkSession's engine, so requests execute Spark
jobs in-process — the deployment shape of a driver-side query frontend
(executors fan out underneath, exactly like hunt-server holding the
index XMVar while Warp threads serve).
"""

from __future__ import annotations

import json
import logging
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine

_log = logging.getLogger("hunt_spark.server")


class HuntApiError(Exception):
    def __init__(self, code: int, msg: str):
        super().__init__(msg)
        self.code = code
        self.msg = msg


def _limited(rows: list[dict], offset: int, mx: int, count: int) -> dict:
    """mkLimitedResult (ApiDocument.hs:60,72-81): max < 0 = unlimited.
    ``rows`` is the already-offset/limited page; ``count`` is the size
    of the COMPLETE result before offset/limit (the reference's
    lrCount = length ds in execSearch) — what clients paginate by."""
    return {"result": rows, "offset": offset, "max": mx, "count": count}


def _ranked(row, with_weight: bool = False, fields: list | None = None) -> dict:
    d = {"uri": row["url"], "score": float(row["score"])}
    desc = row["description"] if "description" in row.__fields__ else None
    desc = dict(desc) if desc else {}
    if fields is not None:
        # Search's optional description projection (Command.hs:166-176
        # icFields; Interpreter.hs mkSelect)
        desc = {k: v for k, v in desc.items() if k in fields}
    d["description"] = desc
    if with_weight:
        d["weight"] = float(row["weight"])
    return d


class HuntServer:
    """Serve a HuntEngine over HTTP; start()/shutdown() for embedding,
    serve_forever() for a standalone process."""

    def __init__(
        self,
        engine: HuntEngine,
        host: str = "127.0.0.1",
        port: int = 0,
        max_k: int = 1000,
        dump_limit: int = 1000,
    ):
        """``max_k`` is the serving hard cap on page size: an explicit
        limit above it is rejected (413), and the reference's unlimited
        searches (limit=-1, /weight) are clamped to it — a match-all
        query must not pull the corpus through the driver.
        LimitedResult.count still reports the TRUE total hit count, so
        clients can paginate through everything. ``dump_limit`` caps the
        /status/doctable and /status/context dumps the same way."""
        self.engine = engine
        self.max_k = max_k
        self.dump_limit = dump_limit
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # one request at a time per path is fine; Spark driver
            # serializes job submission anyway
            def log_message(self, fmt, *args):
                # request lines and http.server errors: DEBUG, so tests
                # and benchmarks stay quiet unless the logger is raised
                if _log.isEnabledFor(logging.DEBUG):
                    _log.debug("%s %s", self.address_string(), fmt % args)

            def _reply(self, status: int, payload) -> None:
                body = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _dispatch(self, fn) -> None:
                try:
                    self._reply(200, fn())
                except HuntApiError as e:
                    self._reply(e.code, {"code": e.code, "msg": e.msg})
                except Exception as e:  # noqa: BLE001 — wire boundary
                    # the client gets the message; the log keeps the trace
                    _log.exception("500 on %s %s", self.command, self.path)
                    self._reply(500, {"code": 500, "msg": str(e)})

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(n) if n else b""
                try:
                    return json.loads(raw or b"null")
                except json.JSONDecodeError as e:
                    raise HuntApiError(400, f"invalid JSON body: {e}") from e

            def do_GET(self):
                self._dispatch(lambda: outer.handle_get(self.path))

            def _mutate(self, verb: str) -> None:
                try:
                    body = self._body()
                except HuntApiError as e:
                    return self._reply(e.code, {"code": e.code, "msg": e.msg})
                self._dispatch(lambda: outer.handle_mutate(verb, self.path, body))

            def do_POST(self):
                self._mutate("POST")

            def do_PUT(self):
                self._mutate("PUT")

            def do_DELETE(self):
                self._mutate("DELETE")

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    # -- lifecycle ------------------------------------------------------
    def start(self) -> "HuntServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self.httpd.shutdown()
        if self._thread:
            self._thread.join(timeout=10)

    # -- GET routes -----------------------------------------------------
    def handle_get(self, path: str):
        u = urllib.parse.urlparse(path)
        parts = [urllib.parse.unquote(p) for p in u.path.split("/") if p]
        qs = urllib.parse.parse_qs(u.query)

        def qint(name: str, default: int) -> int:
            try:
                return int(qs[name][0]) if name in qs else default
            except ValueError as e:
                raise HuntApiError(400, f"bad {name}") from e

        if not parts:
            raise HuntApiError(404, "not found")
        if parts[0] == "search" and len(parts) == 2:
            return self._search(
                parts[1], qint("offset", 0), qint("limit", 10), weight=False
            )
        if parts[0] == "weight" and len(parts) == 2:
            # WeightAPI: search returning document weights (API.hs:110-113)
            return self._search(parts[1], 0, -1, weight=True)
        if parts[0] == "select" and len(parts) == 2:
            return self._select(parts[1])
        if parts[0] == "completion" and len(parts) == 2:
            return self._completion(parts[1], qint("limit", 10))
        if parts[0] == "status":
            # StatusAPI sub-routes (hunt-api/src/Hunt/API.hs:138-149)
            if len(parts) == 1:
                return {"code": 0, "res": self.engine.status()}
            if parts[1] == "gc" and len(parts) == 2:
                return {"code": 0, "res": self.engine.status_gc()}
            if parts[1] == "doctable" and len(parts) == 2:
                return {"code": 0,
                        "res": self.engine.status_doctable(self.dump_limit)}
            if parts[1] == "index" and len(parts) == 2:
                return {"code": 0, "res": self.engine.status_index()}
            if parts[1] == "schema" and len(parts) == 2:
                # documented in API.hs:147 ("GET /status/schema")
                sch = self.engine._schema() or {}  # noqa: SLF001
                return {
                    "code": 0,
                    "res": {
                        cx: {"type": t, "weight": w, "regexp": rx,
                             "default": d, "normalizers": list(ns)}
                        for cx, (t, w, rx, d, ns) in sorted(sch.items())
                    },
                }
            if parts[1] == "context" and len(parts) == 3:
                try:
                    return {
                        "code": 0,
                        "res": self.engine.status_context(
                            parts[2], self.dump_limit
                        ),
                    }
                except KeyError as e:
                    raise HuntApiError(404, str(e)) from e
        raise HuntApiError(404, f"no route for {u.path}")

    # -- mutations ------------------------------------------------------
    def handle_mutate(self, verb: str, path: str, body):
        parts = [p for p in path.split("/") if p]
        if parts == ["document"]:
            if verb == "POST":
                self._insert_docs([self._api_doc(body)])
            elif verb == "PUT":
                self._update_docs([self._api_doc(body)])
            else:
                self.engine.delete_docs([self._api_doc(body)["uri"]])
            return {"code": 0, "res": None}
        if parts == ["eval"] and verb == "POST":
            return self._eval(body)
        raise HuntApiError(404, f"no route for {verb} /{'/'.join(parts)}")

    # -- helpers --------------------------------------------------------
    @staticmethod
    def _api_doc(j) -> dict:
        if not isinstance(j, dict) or "uri" not in j:
            raise HuntApiError(400, "ApiDocument needs a uri")
        desc = {
            # FV_Json convention for non-string values; null stays None —
            # insert DROPS null-valued keys (Interpreter.hs:462
            # deleteNull) while update treats them as delete markers
            # (ContextIndex.hs:347 merge-then-deleteNull)
            k: v if isinstance(v, str) or v is None else json.dumps(v)
            for k, v in (j.get("description") or {}).items()
        }
        return {
            "uri": j["uri"],
            "index": j.get("index") or {},
            "description": desc,
            # adWght 0.0 = noScore = default weight (ApiDocument.hs:140-141)
            "weight": float(j["weight"]) if j.get("weight") else None,
        }

    def _docs_frame(self, docs: list[dict]):
        spark = self.engine.spark
        contexts = sorted({cx for d in docs for cx in d["index"]})
        rows = [
            tuple(
                [d["uri"], d["weight"], d["description"] or None]
                + [d["index"].get(cx) for cx in contexts]
            )
            for d in docs
        ]
        schema = "url string, weight double, description map<string,string>"
        for cx in contexts:
            schema += f", `{cx}` string"
        df = spark.createDataFrame(rows, schema)
        if all(d["weight"] is None for d in docs):
            df = df.drop("weight")  # noScore: let the engine default/keep
        else:
            df = df.withColumn("weight", F.coalesce("weight", F.lit(1.0)))
        return df, {cx: F.col(f"`{cx}`") for cx in contexts}

    def _insert_docs(self, docs: list[dict]) -> None:
        # null-valued description keys are dropped at insert
        # (Interpreter.hs:462 applies deleteNull to the incoming doc)
        docs = [
            {
                **d,
                "description": {
                    k: v for k, v in d["description"].items() if v is not None
                },
            }
            for d in docs
        ]
        df, cx = self._docs_frame(docs)
        try:
            self.engine.insert(df, cx)
        except KeyError as e:
            raise HuntApiError(400, str(e)) from e
        except ValueError as e:
            # already-indexed / duplicate URI -> 409, the reference's
            # checkApiDocExistence conflict status (Interpreter.hs)
            raise HuntApiError(409, str(e)) from e

    def _update_docs(self, docs: list[dict]) -> None:
        df, cx = self._docs_frame(docs)
        try:
            self.engine.update(df, cx)
        except KeyError as e:
            raise HuntApiError(400, str(e)) from e

    def _parse(self, q):
        from hunt_spark.plans.ast import QueryJsonError, query_from_json
        from hunt_spark.plans.parser import ParseError, parse_query

        try:
            # a JSON object is the reference's structured Query wire
            # shape (Grammar.hs FromJSON); a string is query syntax
            if isinstance(q, dict):
                return query_from_json(q)
            return parse_query(q)
        except (ParseError, QueryJsonError) as e:
            # hunt-server replies 400 with the parser message on a bad
            # query (Server.hs javascript-error contract)
            raise HuntApiError(400, f"parse error: {e}") from e

    def _search(
        self, q, offset: int, mx: int, weight: bool,
        sel_fields: list | None = None,
    ) -> dict:
        if isinstance(q, dict):  # structured query JSON -> AST
            q = self._parse(q)
        if mx > self.max_k:
            raise HuntApiError(
                413, f"limit {mx} exceeds the serving cap {self.max_k}"
            )
        if offset < 0:
            raise HuntApiError(400, "negative offset")
        # unlimited (reference default max=-1, and /weight) is clamped
        # to the cap; count below still reports the true total
        k = mx if mx >= 0 else self.max_k
        fields = ["description"] if "description" in self.engine.doc_meta().columns else []
        if weight:
            fields.append("weight")
        from hunt_spark.plans.parser import ParseError

        try:
            # pass the RAW query string: the engine keys its serving
            # caches on it (parse errors map to 400 here)
            rows, total = self.engine.search_page(
                q, k=k, offset=offset, fields=fields
            )
        except ParseError as e:
            raise HuntApiError(400, f"parse error: {e}") from e
        return _limited(
            [_ranked(r, weight, sel_fields) for r in rows], offset, mx, total
        )

    def _select(self, q: str) -> dict:
        ast = self._parse(q)
        ids = self.engine.select(ast)
        total = ids.count()
        dm = self.engine.doc_meta()
        rows = (
            ids.join(dm, "doc_id")
            .select("url", *(["description"] if "description" in dm.columns else []))
            .orderBy("url")
            .limit(self.max_k)  # serving cap; count carries the total
            .collect()
        )
        out = [
            {
                "uri": r["url"],
                # Select is unscored — defScore (Processor.hs:194-246)
                "score": 1.0,
                "description": dict(r["description"])
                if "description" in r.__fields__ and r["description"]
                else {},
            }
            for r in rows
        ]
        return _limited(out, 0, -1, total)

    def _completion(self, q: str, mx: int) -> list:
        from hunt_spark.plans.parser import ParseError

        # same serving-cap policy as /search: an explicit limit beyond
        # the cap is the client's error; unlimited (limit=-1, the
        # reference's completeAll) clamps to the cap instead of
        # crashing on .limit(-1)
        if mx > self.max_k:
            raise HuntApiError(
                413, f"limit {mx} exceeds the serving cap {self.max_k}"
            )
        k = mx if mx >= 0 else self.max_k
        try:
            rows = self.engine.complete_query(q, k=k).collect()
        except (ParseError, ValueError) as e:
            # bad query text or an unsupported completion shape is the
            # client's error — hunt-server replies 400, not 500
            raise HuntApiError(400, f"parse error: {e}") from e
        return [[r["term"], float(r["score"])] for r in rows]

    # -- /eval (Command.hs:194-224) --------------------------------------
    def _eval(self, cmd):
        if isinstance(cmd, list):  # Sequence
            res = None
            # batch adjacent inserts like splitBatch (Command.hs:300-317)
            pending: list[dict] = []

            def flush():
                if pending:
                    self._insert_docs(pending)
                    pending.clear()

            for c in cmd:
                if isinstance(c, dict) and c.get("cmd") == "insert":
                    pending.append(self._api_doc(c.get("document")))
                else:
                    flush()
                    res = self._eval(c)
            flush()
            return res if res is not None else {"code": 0, "res": None}
        if not isinstance(cmd, dict) or "cmd" not in cmd:
            raise HuntApiError(400, "not a command")
        c = cmd["cmd"]
        if c == "search":
            return {
                "code": 0,
                "res": self._search(
                    cmd["query"],
                    int(cmd.get("offset", 0)),
                    int(cmd.get("max", -1)),
                    bool(cmd.get("weight", False)),
                    cmd.get("fields"),
                ),
            }
        if c == "completion":
            return {"code": 0, "res": self._completion(cmd["text"], int(cmd["max"]))}
        if c == "select":
            return {"code": 0, "res": self._select(cmd["query"])}
        if c == "insert":
            self._insert_docs([self._api_doc(cmd.get("document"))])
            return {"code": 0, "res": None}
        if c == "update":
            self._update_docs([self._api_doc(cmd.get("document"))])
            return {"code": 0, "res": None}
        if c == "delete":
            self.engine.delete_docs([cmd["uri"]])
            return {"code": 0, "res": None}
        if c == "delete-by-query":
            self.engine.delete_by_query(self._parse(cmd["query"]))
            return {"code": 0, "res": None}
        if c == "insert-context":
            sch = cmd.get("schema") or {}
            try:
                self.engine.insert_context(
                    cmd["context"],
                    ctype=sch.get("type", "text"),
                    weight=float(sch.get("weight", 1.0)),
                    # ContextSchema "regexp" (Schema.hs:295-311 FromJSON)
                    # — here in the Java/Python-common regex syntax
                    regex=sch.get("regexp"),
                    # cxDefault (o .:? "default" .!= True)
                    default=bool(sch.get("default", True)),
                    # cxNormalizer names (o .:? "normalizers" .!= [])
                    normalizers=sch.get("normalizers") or None,
                )
            except ValueError as e:
                raise HuntApiError(400, str(e)) from e
            return {"code": 0, "res": None}
        if c == "delete-context":
            try:
                self.engine.delete_context(cmd["context"])
            except KeyError as e:
                raise HuntApiError(400, str(e)) from e
            return {"code": 0, "res": None}
        if c == "store":
            # StoreIx (BasicCommand.hs:68-69; Command.hs:187,218)
            return {"code": 0, "res": self.engine.store_index(cmd["path"])}
        if c == "load":
            # LoadIx (BasicCommand.hs:66-67; Command.hs:186,217)
            try:
                self.engine.load_index(cmd["path"])
            except FileNotFoundError as e:
                raise HuntApiError(404, str(e)) from e
            except ValueError as e:
                # shard-layout mismatch on a meta-less catalog: loading
                # it would serve silently-wrong pruned lookups
                raise HuntApiError(409, str(e)) from e
            return {"code": 0, "res": None}
        if c == "status":
            # StatusCmd payload: "gc" | "doctable" | "index" |
            # {"context": name} (BasicCommand.hs:93-103)
            sub = cmd.get("status")
            if sub is None:
                return {"code": 0, "res": self.engine.status()}
            if sub == "gc":
                return {"code": 0, "res": self.engine.status_gc()}
            if sub == "doctable":
                return {"code": 0,
                        "res": self.engine.status_doctable(self.dump_limit)}
            if sub == "index":
                return {"code": 0, "res": self.engine.status_index()}
            if isinstance(sub, dict) and "context" in sub:
                try:
                    return {
                        "code": 0,
                        "res": self.engine.status_context(
                            sub["context"], self.dump_limit
                        ),
                    }
                except KeyError as e:
                    raise HuntApiError(404, str(e)) from e
            raise HuntApiError(400, f"unknown status command {sub!r}")
        if c == "noop":
            return {"code": 0, "res": None}
        raise HuntApiError(400, f"unknown command {c!r}")
