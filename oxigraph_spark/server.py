"""Minimal SPARQL 1.1 Protocol endpoint over a Store (SURVEY §2.1 S11).

Reference: the upstream server binary (``cli/src/main.rs`` — Query/
Update routes with content negotiation over the results serializers).
Spark re-expression: the handler collects each response driver-side
through the bounded ``results_io`` document writers (responses are
protocol payloads, capped at ``max_rows``; big exports go through the
distributed writers instead).

Prepared execution: a SELECT answered as results JSON or XML runs
``Store.prepare(text, max_rows)``, the bounded frame kept in the
store's plan-cache entry, and ASK re-collects the cached frame, which
the compiler already caps at one row.  A repeated text therefore re-runs
one QueryExecution: no parse, analysis, optimization or physical
planning, and under AQE no new broadcast or shuffle-map stage, since
the entry pins its executed plan with the broadcast relations and
shuffle outputs it built.  An entry is dropped when it falls out of the
256-entry LRU or when ``/update`` (or a Graph Store write) swaps in the
Store of the next generation, whose cache starts empty.  Texts calling
NOW(), RAND(), UUID(), STRUUID() or BNODE() are compiled per request.
CSV, TSV and CONSTRUCT/DESCRIBE responses add a per-request formatting
projection over the cached frame, so they re-plan but do not re-compile.
Our own SERVICE client speaks to this endpoint (``tests/test_server.py``).

Routes (SPARQL 1.1 Protocol §2):
- ``GET  /query?query=…``             (URL-encoded)
- ``POST /query``  with ``application/sparql-query`` (raw body) or
  ``application/x-www-form-urlencoded`` (``query=…``)
- ``POST /update`` with ``application/sparql-update`` or form
  (``update=…``) — mutates the served store (batch semantics)

Content negotiation (Accept): SELECT → results JSON (default) / XML /
CSV / TSV; ASK → JSON / XML boolean; CONSTRUCT/DESCRIBE → N-Triples.

Graph Store Protocol (SPARQL 1.1 GSP; upstream serves the same surface
from ``cli/src/main.rs`` · the ``/store`` routes).  Indirect graph
identification at ``/store``:

- ``?default`` → the default graph; ``?graph=<iri>`` → that named
  graph; NEITHER → the whole DATASET (oxigraph's extension: N-Quads /
  TriG in, N-Quads out).
- ``GET``/``HEAD`` → serialize (Accept: N-Triples default, Turtle,
  RDF/XML, JSON-LD; dataset: N-Quads); 404 for an absent named graph.
- ``PUT`` → replace the target's content with the parsed body
  (201 created / 204 replaced); ``POST`` → RDF-merge into the target
  (payload blank nodes stay fresh per request); ``DELETE`` → drop
  (404 for an absent named graph).

GSP mutations are synthesized into SPARQL Update text (DROP SILENT +
INSERT DATA over the canonical N-Triples tokens) and executed through
``Store.update`` — one code path for every source, and a single ATOMIC
commit over a :class:`TransactionalQuadStore`.
"""

from __future__ import annotations

import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional

from .algebra import ast as A
from .algebra.parser import ParseError, parse_query

MAX_RESULT_ROWS = 100_000  # bounded protocol responses (see module doc)


class SparqlEndpoint:
    """Wraps a Store behind the protocol; ``start()`` returns the bound
    (host, port)."""

    def __init__(self, store, max_rows: int = MAX_RESULT_ROWS):
        self._store = store
        self._lock = threading.Lock()
        self.max_rows = max_rows
        self._httpd: Optional[ThreadingHTTPServer] = None

    # -- protocol operations (driver-side) ---------------------------------

    def query_response(self, sparql: str, accept: str):
        """→ (content_type, payload str).  Raises ParseError upward."""
        from .sources import results_io as R
        from .sources.ntriples import format_term
        from pyspark.sql import functions as F
        ast = parse_query(sparql)
        # SELECT as results JSON/XML: the cached bounded frame, run as is
        document = (isinstance(ast, A.SelectQuery)
                    and "tab-separated-values" not in accept
                    and "csv" not in accept)
        with self._lock:
            df = (self._store.prepare(sparql, self.max_rows) if document
                  else self._store.query(sparql))
        if document:
            if "sparql-results+xml" in accept:
                return ("application/sparql-results+xml",
                        R.to_xml_document(df))
            return ("application/sparql-results+json",
                    R.to_json_document(df))
        if isinstance(ast, A.AskQuery):
            val = len(df.collect()) > 0  # compile_query caps ASK at 1 row
            if "xml" in accept:
                return ("application/sparql-results+xml",
                        '<?xml version="1.0"?><sparql xmlns="http://www.w3.'
                        'org/2005/sparql-results#"><head/><boolean>'
                        f'{"true" if val else "false"}</boolean></sparql>')
            return ("application/sparql-results+json",
                    '{"head":{},"boolean":%s}' % ("true" if val else "false"))
        if isinstance(ast, (A.ConstructQuery, A.DescribeQuery)):
            rows = df.select(F.concat(
                format_term(df["s"]), F.lit(" "), format_term(df["p"]),
                F.lit(" "), format_term(df["o"]), F.lit(" .")
            ).alias("nt")).limit(self.max_rows).collect()
            return ("application/n-triples",
                    "\n".join(r.nt for r in rows) + "\n")
        if "tab-separated-values" in accept:
            return ("text/tab-separated-values",
                    R.to_tsv_document(df, limit=self.max_rows))
        return ("text/csv", R.to_csv_document(df, limit=self.max_rows))

    def update(self, sparql: str) -> None:
        with self._lock:
            self._store = self._store.update(sparql)

    # -- graph store protocol (driver-side) ---------------------------------
    # Target spelling: ``None`` = default graph, ``"*"`` = whole dataset,
    # any other string = that named graph's IRI.

    _GSP_CTYPE_FMT = {
        "application/n-triples": "ntriples", "text/plain": "ntriples",
        "application/n-quads": "nquads", "text/turtle": "turtle",
        "application/trig": "trig", "application/rdf+xml": "rdfxml",
        "application/ld+json": "jsonld",
    }
    _GSP_FMT_EXT = {"ntriples": ".nt", "nquads": ".nq", "turtle": ".ttl",
                    "trig": ".trig", "rdfxml": ".rdf", "jsonld": ".jsonld"}

    def _graph_quads(self, graph):
        from .model import terms as T
        q = self._store.source.quads()
        g = q["g"]
        if graph is None:
            return q.where(g["kind"] == T.KIND_DEFAULT_GRAPH)
        if graph == "*":
            return q
        return q.where((g["kind"] == T.KIND_IRI) & (g["lex"] == graph))

    def graph_exists(self, graph) -> bool:
        if graph is None or graph == "*":
            return True  # the default graph / dataset always exist
        with self._lock:
            df = self._graph_quads(graph)
        return len(df.take(1)) > 0

    def gsp_get(self, graph, accept: str):
        """→ (content_type, payload) or None when a named graph is absent."""
        from .sources.ntriples import format_term
        from pyspark.sql import functions as F
        a = accept or ""
        with self._lock:
            df = self._graph_quads(graph)
        if graph not in (None, "*") and not len(df.take(1)):
            return None
        df = df.limit(self.max_rows)
        if graph == "*":  # dataset: N-Quads (TriG Accept also gets NQ —
            #              every NQ doc is valid TriG)
            from .model import terms as T
            gtok = F.when(df["g"]["kind"] == T.KIND_DEFAULT_GRAPH,
                          F.lit("")).otherwise(
                F.concat(F.lit(" "), format_term(df["g"])))
            rows = df.select(F.concat(
                format_term(df["s"]), F.lit(" "), format_term(df["p"]),
                F.lit(" "), format_term(df["o"]), gtok, F.lit(" .")
            ).alias("nq")).collect()
            ctype = ("application/trig" if "trig" in a
                     else "application/n-quads")
            return (ctype, "\n".join(r.nq for r in rows) + "\n")
        triples = df.select("s", "p", "o")
        if "rdf+xml" in a:
            from .sources.rdfxml import to_rdfxml_document
            return ("application/rdf+xml",
                    to_rdfxml_document(triples, max_rows=self.max_rows))
        if "ld+json" in a:
            from .sources.jsonld import to_jsonld_document
            return ("application/ld+json",
                    to_jsonld_document(triples, max_rows=self.max_rows))
        rows = triples.select(F.concat(
            format_term(triples["s"]), F.lit(" "),
            format_term(triples["p"]), F.lit(" "),
            format_term(triples["o"]), F.lit(" .")).alias("nt")).collect()
        body = "\n".join(r.nt for r in rows) + "\n"
        # every N-Triples doc is valid Turtle; serve the negotiated label
        return (("text/turtle", body) if "turtle" in a
                else ("application/n-triples", body))

    def _parse_payload(self, body: str, ctype: str):
        """RDF document body → list of (s_tok, p_tok, o_tok, g_lex|None)
        canonical N-Triples token rows (bounded, driver-side)."""
        import os
        import tempfile
        from .sources.ntriples import format_term
        from .sources.rdf_io import load_rdf
        from .model import terms as T
        from pyspark.sql import functions as F
        fmt = self._GSP_CTYPE_FMT.get((ctype or "").split(";")[0].strip()
                                      .lower() or "application/n-triples")
        if fmt is None:
            raise ValueError(f"unsupported RDF content type: {ctype}")
        with tempfile.NamedTemporaryFile(
                "w", suffix=self._GSP_FMT_EXT[fmt], delete=False,
                encoding="utf-8") as f:
            f.write(body)
            tmp = f.name
        try:
            q = load_rdf(self._store.spark, tmp, fmt=fmt)
            rows = q.select(
                format_term(q["s"]).alias("s"),
                format_term(q["p"]).alias("p"),
                format_term(q["o"]).alias("o"),
                F.when(q["g"]["kind"] == T.KIND_IRI,
                       q["g"]["lex"]).alias("g")).collect()
        finally:
            os.unlink(tmp)
        return [(r.s, r.p, r.o, r.g) for r in rows]

    @staticmethod
    def _insert_data_text(rows, graph) -> Optional[str]:
        """Token rows → one INSERT DATA op targeting ``graph`` (payload
        graph labels are honored only for the dataset target ``"*"``;
        a graph-addressed PUT/POST flattens the payload to triples, per
        GSP's 'RDF graph content' framing)."""
        if not rows:
            return None
        if graph == "*":
            by_g: dict = {}
            for s, p, o, g in rows:
                by_g.setdefault(g, []).append(f"{s} {p} {o} .")
            parts = []
            for g, lines in by_g.items():
                block = "\n".join(lines)
                parts.append(block if g is None
                             else "GRAPH <%s> {\n%s\n}" % (g, block))
            return "INSERT DATA {\n" + "\n".join(parts) + "\n}"
        lines = "\n".join(f"{s} {p} {o} ." for s, p, o, _ in rows)
        if graph is None:
            return "INSERT DATA {\n" + lines + "\n}"
        return "INSERT DATA { GRAPH <%s> {\n%s\n} }" % (graph, lines)

    @staticmethod
    def _drop_text(graph) -> str:
        if graph is None:
            return "DROP SILENT DEFAULT"
        if graph == "*":
            return "DROP SILENT ALL"
        return f"DROP SILENT GRAPH <{graph}>"

    def gsp_write(self, graph, body: str, ctype: str,
                  replace: bool) -> int:
        """PUT (replace=True) / POST (merge) → HTTP status code."""
        existed = self.graph_exists(graph)
        rows = self._parse_payload(body, ctype)
        ops = [self._drop_text(graph)] if replace else []
        ins = self._insert_data_text(rows, graph)
        if ins:
            ops.append(ins)
        if ops:
            with self._lock:
                self._store = self._store.update(" ;\n".join(ops))
        return 204 if existed else 201

    def gsp_delete(self, graph) -> int:
        if graph not in (None, "*") and not self.graph_exists(graph):
            return 404
        with self._lock:
            self._store = self._store.update(self._drop_text(graph))
        return 204

    # -- http wiring --------------------------------------------------------

    def start(self, host: str = "127.0.0.1", port: int = 0):
        ep = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, ctype: str, payload: str):
                data = payload.encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _run_query(self, q: str):
                try:
                    ctype, payload = ep.query_response(
                        q, self.headers.get("Accept", "") or "")
                    self._send(200, ctype, payload)
                except ParseError as ex:
                    self._send(400, "text/plain", f"parse error: {ex}")
                except Exception as ex:       # noqa: BLE001
                    self._send(500, "text/plain", f"error: {ex}")

            def _gsp_target(self, url):
                """Query string → None (default) | "*" (dataset) | IRI."""
                qs = urllib.parse.parse_qs(url.query)
                if "default" in qs or url.query == "default":
                    return None
                if "graph" in qs:
                    return qs["graph"][0]
                return "*"

            def _gsp_read(self, url, head: bool):
                try:
                    got = ep.gsp_get(self._gsp_target(url),
                                     self.headers.get("Accept", "") or "")
                except Exception as ex:   # noqa: BLE001
                    return self._send(500, "text/plain", f"error: {ex}")
                if got is None:
                    return self._send(404, "text/plain", "no such graph")
                ctype, payload = got
                if head:
                    data = payload.encode("utf-8")
                    self.send_response(200)
                    self.send_header("Content-Type", ctype)
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    return None
                return self._send(200, ctype, payload)

            def _gsp_mutate(self, url, *, replace=None, delete=False):
                tgt = self._gsp_target(url)
                try:
                    if delete:
                        code = ep.gsp_delete(tgt)
                    else:
                        n = int(self.headers.get("Content-Length", "0"))
                        body = self.rfile.read(n).decode("utf-8")
                        code = ep.gsp_write(
                            tgt, body,
                            self.headers.get("Content-Type", "") or "",
                            replace)
                except ValueError as ex:
                    return self._send(415, "text/plain", str(ex))
                except Exception as ex:   # noqa: BLE001
                    return self._send(500, "text/plain", f"error: {ex}")
                return self._send(code, "text/plain", "")

            def do_GET(self):
                url = urllib.parse.urlparse(self.path)
                if url.path == "/store":
                    return self._gsp_read(url, head=False)
                if url.path != "/query":
                    return self._send(404, "text/plain", "not found")
                qs = urllib.parse.parse_qs(url.query)
                if "query" not in qs:
                    return self._send(400, "text/plain", "missing query=")
                self._run_query(qs["query"][0])

            def do_HEAD(self):
                url = urllib.parse.urlparse(self.path)
                if url.path == "/store":
                    return self._gsp_read(url, head=True)
                return self._send(404, "text/plain", "not found")

            def do_PUT(self):
                url = urllib.parse.urlparse(self.path)
                if url.path == "/store":
                    return self._gsp_mutate(url, replace=True)
                return self._send(404, "text/plain", "not found")

            def do_DELETE(self):
                url = urllib.parse.urlparse(self.path)
                if url.path == "/store":
                    return self._gsp_mutate(url, delete=True)
                return self._send(404, "text/plain", "not found")

            def do_POST(self):
                url = urllib.parse.urlparse(self.path)
                if url.path == "/store":
                    return self._gsp_mutate(url, replace=False)
                n = int(self.headers.get("Content-Length", "0"))
                body = self.rfile.read(n).decode("utf-8")
                ctype = (self.headers.get("Content-Type") or "").split(";")[0]
                if url.path == "/query":
                    if ctype == "application/sparql-query":
                        return self._run_query(body)
                    qs = urllib.parse.parse_qs(body)
                    if "query" not in qs:
                        return self._send(400, "text/plain", "missing query=")
                    return self._run_query(qs["query"][0])
                if url.path == "/update":
                    if ctype == "application/sparql-update":
                        upd = body
                    else:
                        qs = urllib.parse.parse_qs(body)
                        if "update" not in qs:
                            return self._send(400, "text/plain",
                                              "missing update=")
                        upd = qs["update"][0]
                    try:
                        ep.update(upd)
                        return self._send(204, "text/plain", "")
                    except ParseError as ex:
                        return self._send(400, "text/plain",
                                          f"parse error: {ex}")
                    except Exception as ex:   # noqa: BLE001
                        return self._send(500, "text/plain", f"error: {ex}")
                return self._send(404, "text/plain", "not found")

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        threading.Thread(target=self._httpd.serve_forever,
                         daemon=True).start()
        return self._httpd.server_address

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd = None
