"""REST surface over :class:`IndexStore` — the reference's Fiber API
re-expressed with the stdlib HTTP server (main.go:216-252 routes,
handlers/{indexes,documents,search,ingresses}.go semantics):

    GET    /health
    GET    /indexes                     {"items": [config...]}
    POST   /indexes                     create {id, primaryKey,
                                        excludeAttributes[]} -> 201 config
    GET    /indexes/:id                 config
    PATCH  /indexes/:id                 update config -> 200 config
    DELETE /indexes/:id                 204
    POST   /indexes/:id/documents       JSON array of docs (first batch
                                        builds, later batches upsert) ->
                                        201 {"indexed": n}
                                        (documents.go:200-202);
                                        ?contentCol= names the analyzed
                                        column (default 'content')
    DELETE /indexes/:id/documents       ?ids[]=1&ids[]=2 (or ids=1,2)
                                        or ?filter=<query> -> 204
    DELETE /indexes/:id/documents/:docid  204
    PATCH  /indexes/:id/documents/:docid  merge-fields partial update
    POST   /indexes/:id/searches        query params + JSON body with
                                        body-over-query override (R7,
                                        handlers/search.go:39-63)
    GET    /indexes/:id/ingresses       {"ingresses": [info...]}
    POST   /indexes/:id/ingresses       {id, type, config} -> create +
                                        auto-start -> 201 info
                                        (handlers/ingresses.go:57-110)
    GET    /indexes/:id/ingresses/:iid  info
    PATCH  /indexes/:id/ingresses/:iid  {"state": "resyncing"|"paused"|
                                        "running"} -> info
                                        (handlers/ingresses.go:157-212)
    DELETE /indexes/:id/ingresses/:iid  204

Error mapping mirrors the reference: request errors -> 400, missing
index/document/ingress -> 404, no ingress manager -> 503
(handlers/ingresses.go:30-34). Clustering routes stay excluded per
SURVEY §2.9's disposition.

Auth (middlewares/authorization.go:14-67, main.go:219): when a master
key is configured (``make_handler(master_key=...)`` or the
``BRIGHT_SPARK_MASTER_KEY`` env var), every route except ``/health``
and ``/metrics`` requires ``Authorization: Bearer <key>`` and answers
401 with the reference's exact error envelopes otherwise; with no key
configured authentication is disabled (config.go RequiresAuth).

Metrics (main.go:210-213 registers fiberprometheus BEFORE auth): GET
``/metrics`` serves a Prometheus-text request counter
``bright_spark_http_requests_total{method,route,status}`` with
Fiber-style route patterns (``/indexes/:id/documents/:docid``), no
auth required, mirroring the reference's scrape-without-auth order.
Beside it, the store's read cache (``IndexStore.cache``):
``bright_spark_read_cache_hits_total`` and
``bright_spark_read_cache_misses_total`` count its lookups answered
from memory and those that missed (read from disk, or derived from a
resident footer), and the ``bright_spark_read_cache_bytes`` gauge is
what it holds now.

Wire safety bound: searches cap the result window at
``MAX_RESULT_WINDOW`` (offset+limit <= 10,000) with a 400 beyond it —
the same 10k safety bound the reference applies to its own unbounded
wire operation (delete-by-filter, handlers/documents.go:240
``searchRequest.Size = 10000 // Limit for safety``). Library callers
(SearchEngine/IndexStore) stay uncapped; a deep page there costs a
driver-side top-(offset+limit) collect, documented on
SearchEngine.search.

Driver-friendly: one Spark session serves all requests; the server is
a thin marshalling layer — every operation is the same IndexStore call
the library user makes, so wire semantics and library semantics cannot
drift apart.
"""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from bright_spark.index.store import IndexStore
from bright_spark.models import IndexConfig, SearchRequest, SearchRequestError
from bright_spark.query.planner import TooManyClausesError

_NUMERIC_PARAMS = {"limit", "offset", "page"}

# ES-style max result window for the WIRE search route (see module doc)
MAX_RESULT_WINDOW = 10_000


def _qs_params(query: str) -> dict:
    """Query-string params in the reference's wire shape: a ``[]``
    suffix or a repeated key yields a list under the BARE name
    (`?ids[]=1&ids[]=2` -> {"ids": ["1", "2"]}, matching Fiber's
    ``query:"ids[]"`` binding). ONLY the known-numeric keys are
    int-coerced — `?q=123` must stay the string term '123', never an
    int that crashes the parser."""
    out: dict = {}
    for k, vals in parse_qs(query).items():
        name = k[:-2] if k.endswith("[]") else k
        if k.endswith("[]") or len(vals) > 1:
            out[name] = vals
        else:
            v = vals[0]
            if name in _NUMERIC_PARAMS:
                if not v.lstrip("-").isdigit():
                    raise SearchRequestError(f"{name} must be an integer")
                out[name] = int(v)
            else:
                out[name] = v
    return out


def _config_json(cfg: IndexConfig) -> dict:
    """The reference's IndexConfig wire shape (models/index.go:4-8)."""
    return {"id": cfg.id, "primaryKey": cfg.primary_key,
            "excludeAttributes": list(cfg.exclude_attributes)}


_KNOWN_TOP = {"indexes", "health", "metrics"}
_KNOWN_SUB = {"documents", "searches", "ingresses"}


def _metric_route(parts: list[str]) -> str:
    """Fiber-style route pattern for the metrics label — ids collapse
    to :id/:docid/:iid, and any segment outside the route table
    collapses to a constant, so label cardinality is bounded by the
    route table even for unauthenticated requests to arbitrary paths
    (which are still counted, as 401/404)."""
    if not parts:
        return "/"
    if parts[0] not in _KNOWN_TOP:
        return "/<unmatched>"
    if parts[0] != "indexes":
        return "/" + parts[0]
    out = ["indexes"]
    if len(parts) >= 2:
        out.append(":id")
    if len(parts) >= 3:
        out.append(parts[2] if parts[2] in _KNOWN_SUB else "<unmatched>")
    if len(parts) >= 4:
        out.append(":iid" if parts[2] == "ingresses" else ":docid")
    return "/" + "/".join(out)


def _label_escape(v: str) -> str:
    """Prometheus exposition label-value escaping (backslash, quote,
    newline) — belt and braces on top of the route whitelisting."""
    return (v.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n"))


def make_handler(store: IndexStore, ingress_manager=None,
                 master_key: str | None = None):
    # one lock around store mutations: the reference serializes writes
    # per index via RW locks (store.go:18-25); a coarse lock is the
    # single-writer contract the snapshot layer assumes
    write_lock = threading.Lock()
    if master_key is None:
        master_key = os.environ.get("BRIGHT_SPARK_MASTER_KEY") or None
    metrics_lock = threading.Lock()
    request_counts: dict[tuple[str, str, str], int] = {}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet test output
            pass

        # ----------------------------------------------------- plumbing

        def _json(self, code: int, payload) -> None:
            route = getattr(self, "_route_label", None)
            if route is not None:
                with metrics_lock:
                    k = (self.command, route, str(code))
                    request_counts[k] = request_counts.get(k, 0) + 1
            if code == 204:  # RFC 9110: No Content carries no body
                self.send_response(code)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self):
            n = int(self.headers.get("Content-Length") or 0)
            if not n:
                return None
            return json.loads(self.rfile.read(n))

        def _route(self):
            u = urlparse(self.path)
            parts = [p for p in u.path.split("/") if p]
            return parts, _qs_params(u.query)

        def _authorize(self) -> bool:
            """Bearer-token check with the reference's exact 401
            envelopes (middlewares/authorization.go:22-58)."""
            auth = self.headers.get("Authorization") or ""
            if not auth:
                self._json(401, {"error": "missing authorization header"})
                return False
            bits = auth.split(" ", 1)
            if len(bits) != 2 or bits[0] != "Bearer":
                self._json(401, {
                    "error": "invalid authorization format, expected "
                             "'Bearer <token>'"})
                return False
            if bits[1] != master_key:
                self._json(401, {"error": "invalid authorization token"})
                return False
            return True

        def _metrics(self, parts, params) -> None:
            with metrics_lock:
                snap = sorted(request_counts.items())
            lines = [
                "# HELP bright_spark_http_requests_total Count of HTTP "
                "requests by method, route and status.",
                "# TYPE bright_spark_http_requests_total counter",
            ]
            for (method, route, status), n in snap:
                m, r, s = (_label_escape(str(x))
                           for x in (method, route, status))
                lines.append(
                    f'bright_spark_http_requests_total{{method="{m}"'
                    f',route="{r}",status="{s}"}} {n}')
            cache = store.cache
            for name, kind, what, v in (
                    ("hits_total", "counter", "Read cache lookups "
                     "answered from memory.", cache.hits),
                    ("misses_total", "counter", "Read cache lookups "
                     "that missed.", cache.misses),
                    ("bytes", "gauge", "Bytes the read cache holds.",
                     cache.nbytes)):
                lines += [f"# HELP bright_spark_read_cache_{name} {what}",
                          f"# TYPE bright_spark_read_cache_{name} {kind}",
                          f"bright_spark_read_cache_{name} {v}"]
            body = ("\n".join(lines) + "\n").encode()
            self.send_response(200)
            self.send_header("Content-Type",
                             "text/plain; version=0.0.4; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _dispatch(self, method: str) -> None:
            try:
                parts, params = self._route()
                self._route_label = _metric_route(parts)
                # metrics + health sit ABOVE auth (main.go:210-216:
                # scraping and health checks need no credentials)
                if method == "GET" and parts == ["metrics"]:
                    return self._metrics(parts, params)
                # only GET /health is registered ahead of auth in the
                # reference — POST/PUT/DELETE to /health must 401, not
                # answer an unauthenticated 404
                if (master_key
                        and not (method == "GET" and parts == ["health"])
                        and not self._authorize()):
                    return
                handler = self._find(method, parts)
                if handler is None:
                    return self._json(404, {"error": "not found"})
                handler(parts, params)
            except (SearchRequestError, TooManyClausesError, ValueError) as e:
                self._json(400, {"error": str(e)})
            except KeyError as e:
                self._json(404, {"error": str(e)})
            except Exception as e:  # 500 with the message, like Fiber
                self._json(500, {"error": str(e)})

        def _find(self, method: str, parts: list[str]):
            if method == "GET" and parts == ["health"]:
                return lambda p, q: self._json(200, {"status": "ok"})
            if not parts or parts[0] != "indexes":
                return None
            n = len(parts)
            table = {
                ("GET", 1): self.list_indexes,
                ("POST", 1): self.create_index,
                ("GET", 2): self.get_index,
                ("PATCH", 2): self.update_index,
                ("DELETE", 2): self.delete_index,
            }
            if n == 3 and parts[2] == "documents":
                table[("POST", 3)] = self.add_documents
                table[("DELETE", 3)] = self.delete_documents
            if n == 3 and parts[2] == "searches":
                table[("POST", 3)] = self.search
            if n == 3 and parts[2] == "ingresses":
                table[("GET", 3)] = self.list_ingresses
                table[("POST", 3)] = self.create_ingress
            if n == 4 and parts[2] == "documents":
                table[("DELETE", 4)] = self.delete_document
                table[("PATCH", 4)] = self.update_document
            if n == 4 and parts[2] == "ingresses":
                table[("GET", 4)] = self.get_ingress
                table[("PATCH", 4)] = self.update_ingress
                table[("DELETE", 4)] = self.delete_ingress
            return table.get((method, n))

        # ------------------------------------------------------- routes

        def list_indexes(self, parts, params) -> None:
            cfgs = store.list_indexes(limit=params.get("limit", 20),
                                      offset=params.get("offset", 0))
            # {"items": [...]} — handlers/indexes.go:32
            self._json(200, {"items": [_config_json(c) for c in cfgs]})

        def create_index(self, parts, params) -> None:
            b = self._body() or {}
            if not b.get("id"):
                raise ValueError("id is required")
            cfg = IndexConfig(
                id=b["id"], primary_key=b.get("primaryKey"),
                exclude_attributes=tuple(b.get("excludeAttributes") or ()),
                tokenizer=b.get("tokenizer", "code"))
            with write_lock:
                store.create_index(cfg)
            # 201 + the config body — handlers/indexes.go:102
            self._json(201, _config_json(cfg))

        def get_index(self, parts, params) -> None:
            _, cfg = store.get_index(parts[1])
            self._json(200, _config_json(cfg))

        def update_index(self, parts, params) -> None:
            b = self._body() or {}
            _, cur = store.get_index(parts[1])
            import dataclasses
            with write_lock:
                # explicit presence checks: {"excludeAttributes": []}
                # must CLEAR the exclusions, and {"primaryKey": null}
                # must null the key — a falsy value is not "absent"
                new = dataclasses.replace(
                    cur,
                    primary_key=(b["primaryKey"] if "primaryKey" in b
                                 else cur.primary_key),
                    exclude_attributes=tuple(
                        b["excludeAttributes"]
                        if "excludeAttributes" in b
                        else cur.exclude_attributes))
                store.update_index(parts[1], new)
            # 200 + the config body — handlers/indexes.go:194
            self._json(200, _config_json(new))

        def delete_index(self, parts, params) -> None:
            with write_lock:
                store.delete_index(parts[1])
            self._json(204, {})

        def add_documents(self, parts, params) -> None:
            docs = self._body()
            if not isinstance(docs, list) or not docs:
                raise ValueError("body must be a non-empty JSON array")
            kwargs = {}
            if "contentCol" in params:
                kwargs["content_col"] = params["contentCol"]
            with write_lock:
                store.add_document_rows(parts[1], docs, **kwargs)
            # 201 {"indexed": n} — handlers/documents.go:200-202
            self._json(201, {"indexed": len(docs)})

        def delete_documents(self, parts, params) -> None:
            ids = params.get("ids")
            if isinstance(ids, (int, str)):
                ids = [x for x in str(ids).split(",") if x]
            if ids is not None:
                ids = [int(x) for x in ids]
            with write_lock:
                store.delete_documents(parts[1], ids=ids,
                                       filter_query=params.get("filter"))
            self._json(204, {})

        def delete_document(self, parts, params) -> None:
            with write_lock:
                store.delete_document(parts[1], int(parts[3]))
            self._json(204, {})

        def update_document(self, parts, params) -> None:
            fields = self._body() or {}
            with write_lock:
                rec = store.update_document(parts[1], int(parts[3]), fields)
            self._json(200, {k: v for k, v in rec.items()
                             if k != "content_sha256"})

        def search(self, parts, params) -> None:
            req = SearchRequest.from_params(params, self._body())
            req.validate()
            if req.effective_offset + req.limit > MAX_RESULT_WINDOW:
                raise SearchRequestError(
                    f"result window (offset+limit) exceeds "
                    f"{MAX_RESULT_WINDOW}; paginate with a filter or "
                    f"narrow the query")
            resp = store.search(parts[1], req)
            self._json(200, resp.to_dict())

        # --------------------------------------------- ingress routes

        def _ingresses(self):
            if ingress_manager is None:
                # handlers/ingresses.go:30-34 — 503, not 404
                self._json(503, {"error": "ingress manager not available"})
                return None
            return ingress_manager

        def list_ingresses(self, parts, params) -> None:
            mgr = self._ingresses()
            if mgr is None:
                return
            store.get_index(parts[1])  # 404 when the index is missing
            self._json(200, {"ingresses": mgr.list(parts[1])})

        def create_ingress(self, parts, params) -> None:
            mgr = self._ingresses()
            if mgr is None:
                return
            store.get_index(parts[1])  # 404 when the index is missing
            b = self._body() or {}
            if not b.get("id"):
                raise ValueError("id is required")
            if not b.get("type"):
                raise ValueError("type is required")
            ing = mgr.create(parts[1], b["id"], b.get("config") or {},
                             ingress_type=b["type"])
            ing.start()  # auto-start — handlers/ingresses.go:100-106
            self._json(201, ing.info())

        def _scoped_ingress(self, mgr, parts):
            """Resolve /indexes/<iid>/ingresses/<gid> with BOTH path
            segments enforced: 404 when the index is missing, and 404
            when the ingress exists but belongs to a different index —
            an id must not be addressable through any index's URL."""
            store.get_index(parts[1])  # 404 when the index is missing
            ing = mgr.get(parts[3])
            if ing.cfg.index_id != parts[1]:
                raise KeyError(
                    f"ingress {parts[3]} not found on index {parts[1]}")
            return ing

        def get_ingress(self, parts, params) -> None:
            mgr = self._ingresses()
            if mgr is None:
                return
            self._json(200, self._scoped_ingress(mgr, parts).info())

        def update_ingress(self, parts, params) -> None:
            mgr = self._ingresses()
            if mgr is None:
                return
            ing = self._scoped_ingress(mgr, parts)  # 404 first, like the reference
            b = self._body() or {}
            state = b.get("state")
            if state == "resyncing":
                ing.resync()
            elif state == "paused":
                ing.pause()
            elif state == "running":
                ing.resume()
            else:
                raise ValueError(
                    "invalid state, must be one of: resyncing, paused, "
                    "running")
            self._json(200, ing.info())

        def delete_ingress(self, parts, params) -> None:
            mgr = self._ingresses()
            if mgr is None:
                return
            self._scoped_ingress(mgr, parts)
            mgr.delete(parts[3])
            self._json(204, {})

        def do_GET(self):
            self._dispatch("GET")

        def do_POST(self):
            self._dispatch("POST")

        def do_PATCH(self):
            self._dispatch("PATCH")

        def do_DELETE(self):
            self._dispatch("DELETE")

    return Handler


def make_server(store: IndexStore, port: int = 0,
                ingress_manager=None,
                master_key: str | None = None) -> ThreadingHTTPServer:
    """Bind (port 0 = ephemeral) and return the server; the caller
    drives serve_forever (jobs/serve.py does, tests run it in a
    thread). Pass an :class:`IngressManager` to enable the
    /indexes/:id/ingresses routes (absent -> 503, like the
    reference); pass ``master_key`` (or set BRIGHT_SPARK_MASTER_KEY)
    to require Bearer auth on everything below /health and /metrics."""
    return ThreadingHTTPServer(
        ("127.0.0.1", port),
        make_handler(store, ingress_manager, master_key=master_key))
