"""HTTP serving facade — the reference webserver's data-query surface
(webserver/data_handler.py:1266-1378) over the Spark engine.

Endpoint shape mirrors the reference:

- ``GET/POST /data/query`` with ``query`` (URL param, form field, or
  raw POST body), ``namespace``, ``with_meta=yes/no``,
  ``with_provenance=yes/no``, ``include_retired_files=yes/no``,
  ``summary=count|keys|key-values``, ``save_as``/``add_to``.
  File/dataset results stream as RFC 7464 json-seq
  (``application/json-seq``), one record per RS+JSON+LF frame, fed by
  ``client.query_iter``. A dataset or named-query result is
  collected on the driver, which holds those tables. On a catalog of
  one partition a file result arrives in one Arrow fetch and is framed
  a record batch at a time; over n > 1 partitions it streams through
  ``toLocalIterator``, so the driver holds one partition at a time —
  the Spark analogue of the reference's psycopg2 cursor streaming.
  ``summary=count`` and ``summary=keys`` return plain JSON like the
  reference does.
- ``GET /data/file?fid=...`` / ``?did=ns:name`` — single file record
  (data_handler.py file GET).
- ``GET /data/datasets?pattern=ns_glob:name_glob`` — dataset list;
  every dataset without a pattern.
- MQL/user errors → 400 with ``ExceptionName: message`` text, like
  the reference's error contract.

Auth is deliberately out of scope (docs/DIVERGENCES.md §7): the
reference's token/x509 flows guard a multi-tenant PostgreSQL; this
facade is an in-process analytics engine. The stdlib threading server
is the serving shell — concurrent requests share the SparkSession
(thread-safe) and the FAIR scheduler pool set in session.py keeps one
big streaming query from starving the rest.
"""

from __future__ import annotations

import json
import threading
from contextlib import nullcontext
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional
from urllib.parse import parse_qs, urlparse

from .client import MetaCatSparkClient

_YES = ("yes", "true", "1")
# the catalog version a reply read: the request's pinned state, or for
# a write the published state after it
VERSION_HEADER = "X-MetaCat-Catalog-Version"

# /data/corpus and /data/events default row cap: without it an
# unbounded corpus op streams an entire table through one HTTP
# response (VERDICT r5 #8). An explicit limit= overrides, clamped to
# DATA_ROW_HARD_CAP so no single response can exceed it.
DATA_ROW_CAP_DEFAULT = 10_000
DATA_ROW_HARD_CAP = 1_000_000


def _row_cap(limit_param) -> int:
    """Effective row cap for a /data/corpus|/data/events response."""
    if limit_param:
        # limit=0 is a legitimate schema/emptiness probe — honor it
        return max(0, min(int(limit_param), DATA_ROW_HARD_CAP))
    return DATA_ROW_CAP_DEFAULT


def _flag(params: dict, name: str) -> bool:
    return (params.get(name, ["no"])[0] or "no").lower() in _YES


def _one(params: dict, name: str) -> Optional[str]:
    v = params.get(name)
    return v[0] if v else None


def make_handler(client: MetaCatSparkClient,
                 data_root: Optional[str] = None):
    """Build the request-handler class bound to one client/engine.

    ``data_root`` is the only filesystem subtree client-supplied paths
    (``/data/corpus?op=contamination&test=...``) may read.  ``None``
    (the default) disables path parameters entirely — an unauthenticated
    HTTP surface must not turn into an arbitrary-file read primitive
    (ADVICE r4)."""
    import os

    from .stats import CatalogStats
    stats = CatalogStats(client.catalog)  # shared cached counts
    # populate the cache once at startup (a resident service's
    # daemon-refresh); without this every inexact /data/dataset
    # request re-ran the full membership recount (review r6)
    stats.refresh()
    root = os.path.realpath(data_root) if data_root else None

    def _safe_path(path: str) -> Optional[str]:
        """Resolve ``path`` and return it iff it is under data_root."""
        if root is None:
            return None
        real = os.path.realpath(path)
        return real if (real == root
                        or real.startswith(root + os.sep)) else None

    class Handler(BaseHTTPRequestHandler):
        # HTTP/1.0 close-at-end framing: json-seq responses have no
        # predetermined length and the reference also streams until
        # close; no chunked bookkeeping needed
        protocol_version = "HTTP/1.0"

        def log_message(self, fmt, *args):  # quiet by default
            pass

        # ------------------------------------------------------ routing
        def do_GET(self):
            self._route(body=b"")

        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            self._route(body=self.rfile.read(n) if n else b"")

        # path → (handler method, mutating). Every handler takes
        # (params, body). A mutating route accepts only POST and runs
        # unpinned; every other route reads one pinned state.
        _ROUTES = {
            "/data/query": ("_query", False),
            "/data/file": ("_file", False),
            "/data/files": ("_files_batch", False),
            "/data/datasets": ("_datasets", False),
            "/data/dataset": ("_dataset", False),
            "/data/dataset_files": ("_dataset_files", False),
            "/data/datasets_for_files": ("_datasets_for_files", False),
            "/data/namespaces": ("_namespaces", False),
            "/data/named_queries": ("_named_queries", False),
            "/data/named_query": ("_named_query", False),
            "/data/search_queries": ("_search_queries", False),
            "/data/categories": ("_categories", False),
            "/data/category": ("_category", False),
            "/data/corpus": ("_corpus", False),
            "/data/events": ("_events", False),
            "/data/version": ("_version", False),
            "/data/declare_files": ("_declare_files", True),
            "/data/update_file_meta": ("_update_file_meta", True),
            "/data/update_file": ("_update_file", True),
            "/data/retire_file": ("_retire_file", True),
            "/data/delete_file": ("_delete_file", True),
            "/data/move_files": ("_move_files", True),
            "/data/create_dataset": ("_create_dataset", True),
            "/data/update_dataset": ("_update_dataset", True),
            "/data/remove_dataset": ("_remove_dataset", True),
            "/data/add_files": ("_add_files", True),
            "/data/remove_files": ("_remove_files", True),
            "/data/add_child_dataset": ("_add_child_dataset", True),
            "/data/create_namespace": ("_create_namespace", True),
            "/data/create_named_query": ("_create_named_query", True),
        }

        def _route(self, body: bytes):
            """A read pins one catalog state for the whole request, so
            every table it reads comes from one version. A write runs
            unpinned: it drafts from the latest published state, and
            its reply reports a version that includes it."""
            url = urlparse(self.path)
            self._streaming = False
            route = self._ROUTES.get(url.path)
            if route is None:
                return self._send(404, "text/plain",
                                  f"no such endpoint: {url.path}")
            name, mutating = route
            # safe-method discipline: a crawler/prefetcher following a
            # GET link must never mutate the catalog (review r6)
            if mutating and self.command != "POST":
                return self._send(405, "text/plain",
                                  f"{url.path} requires POST")
            with nullcontext() if mutating else client.catalog.pin():
                return self._dispatch(getattr(self, name),
                                      parse_qs(url.query), body)

        def _dispatch(self, handler, params: dict, body: bytes):
            try:
                return handler(params, body)
            except BrokenPipeError:
                pass  # client hung up mid-stream
            except Exception as e:  # noqa: BLE001 — reference 400 contract
                if self._streaming:
                    # the 200 + json-seq headers are already on the
                    # wire: emitting a second status line would corrupt
                    # the frame stream — just drop the connection so
                    # the client sees truncation, not garbage
                    self.close_connection = True
                    return
                # known in-task ValueErrors (raised inside executor
                # tasks, wrapped by Spark in a PythonException whose
                # str() is a full remote traceback) surface here at
                # iterator-priming time — map them back to the clean
                # OpError contract instead of an opaque wall of
                # traceback (ADVICE r10)
                from .llm.registry import op_error_from_task
                op_err = op_error_from_task(e)
                if op_err is not None:
                    return self._send(op_err.status, "text/plain",
                                      str(op_err))
                self._send(400, "text/plain",
                           f"{type(e).__name__}: {e}")

        # ----------------------------------------------------- handlers
        def _query(self, params: dict, body: bytes):
            mql = _one(params, "query")
            if mql is None and body:
                # form field or raw MQL body, like the reference
                form = parse_qs(body.decode("utf-8"))
                mql = (_one(form, "query")
                       if "query" in form else body.decode("utf-8"))
            if not mql or not mql.strip():
                return self._send(200, "application/json", "[]")

            if _flag(params, "explain"):
                # MQL AST + physical plan, the CLI -x surface over HTTP
                return self._send(200, "text/plain",
                                  client.explain(
                                      mql,
                                      namespace=_one(params,
                                                     "namespace")))

            summary = _one(params, "summary")
            if summary not in ("count", "keys", "key-values", None):
                return self._send(400, "text/plain",
                                  f"Unsupported summary type: {summary}")
            kw = dict(
                with_metadata=_flag(params, "with_meta"),
                with_provenance=_flag(params, "with_provenance"),
                include_retired_files=_flag(params,
                                            "include_retired_files"),
                namespace=_one(params, "namespace"))
            if summary:
                rows = client.query(mql, summary=summary, **kw)
                if summary == "count":
                    return self._send(200, "application/json",
                                      json.dumps(rows[0]))
                if summary == "keys":
                    return self._send(200, "application/json",
                                      json.dumps(sorted(
                                          r["key"] for r in rows)))
                return self._send(200, "application/json",
                                  json.dumps(rows, default=str))

            save_as, add_to = _one(params, "save_as"), _one(params, "add_to")
            if save_as or add_to:
                # materialization needs the full set anyway — non-stream
                rows = client.query(mql, save_as=save_as, add_to=add_to,
                                    **kw)
                return self._send(200, "application/json",
                                  json.dumps(rows, default=str))

            # streaming path: one json-seq frame per record, from a
            # collect, one Arrow fetch or partition by partition
            # (query_iter);
            # after_id/page_size expose the id-cursor pagination (no
            # global sort)
            page = _one(params, "page_size")
            self._stream_json_seq(client.query_iter(
                mql, with_metadata=kw["with_metadata"],
                with_provenance=kw["with_provenance"],
                include_retired_files=kw["include_retired_files"],
                namespace=kw["namespace"],
                after_id=_one(params, "after_id"),
                page_size=int(page) if page else None))

        def _stream_json_seq(self, it):
            """PRIME the iterator before committing the status line so
            parse/analysis errors still surface as 400 (the generator
            is lazy; headers sent first would lock in a 200). After the
            headers go out, ``_streaming`` stops _route's handler from
            writing a second status line into the body on a mid-stream
            executor failure — it closes the connection instead."""
            sentinel = object()
            first = next(it, sentinel)
            self.send_response(200)
            self.send_header("Content-Type", "application/json-seq")
            self.send_header(VERSION_HEADER, str(client.catalog.version))
            self.end_headers()
            self._streaming = True
            if first is sentinel:
                return
            self._frame(first)
            for d in it:
                self._frame(d)

        def _frame(self, d: dict):
            self.wfile.write(
                b"\x1e" + json.dumps(d, default=str).encode("utf-8")
                + b"\n")

        def _events(self, params: dict, body: bytes):
            """Event-stream analytics over HTTP, dispatched through
            the SHARED op registry (llm.registry — the same table the
            CLI `events` group uses, so the two surfaces cannot
            drift): /data/events?op=windowed|sessionize|funnel|
            retention|anomalies|paths [&steps=a,b,c][&horizon=N]
            [&gap=N][&window=spec][&limit=N] — json-seq frames."""
            from .llm.registry import EVENT_OPS, OpContext, OpError
            from .streaming import events as EV
            op = _one(params, "op")
            if op not in EVENT_OPS:
                return self._send(400, "text/plain",
                                  f"unknown events op: {op}")

            def _ev():
                ev_raw = client.catalog.raw["events"]
                return ev_raw.withColumn("ts_ts",
                                         EV._ts_ts_col(ev_raw))

            ctx = OpContext(events=_ev,
                            params={k: _one(params, k)
                                    for k in params})
            try:
                out = EVENT_OPS[op](ctx)
            except OpError as e:
                return self._send(e.status, "text/plain", str(e))
            out = out.limit(_row_cap(_one(params, "limit")))
            self._stream_json_seq(
                r.asDict(recursive=True)
                for r in out.toLocalIterator())

        def _corpus(self, params: dict, body: bytes):
            """Training-corpus operators over HTTP, dispatched
            through the SHARED op registry (llm.registry — the same
            table the CLI `corpus` group uses, so the two surfaces
            cannot drift) on the served catalog's documents/
            embeddings tables: /data/corpus?op=<registry op>
            [&budget=N][&max_tokens=N][&threshold=T]
            [&target=en=0.6,de=0.4][&limit=N] — streamed as json-seq
            frames. Secondary-corpus params (test=, corpus=,
            target=) are
            jailed to --data-root (403 otherwise); the reader is the
            format-sniffing load_corpus, same contract as the CLI's
            --test (review r6)."""
            from .llm.registry import CORPUS_OPS, OpContext, OpError
            op = _one(params, "op")
            if op not in CORPUS_OPS:
                return self._send(400, "text/plain",
                                  f"unknown corpus op: {op}")
            docs = client.catalog.raw["documents"]

            def _jail(path):
                # message covers every secondary-corpus param routed
                # here (test=, corpus=, target=, index=, new=, and
                # the streaming src=/vecsrc= — review r7/r8/r9/r10)
                if root is None:
                    raise OpError(
                        "PermissionError: secondary corpus paths "
                        "(test=, corpus=, target=, index=, new=, "
                        "src=, vecsrc=) "
                        "are disabled; start the "
                        "server with --data-root to allow reading "
                        "corpora under one subtree", status=403)
                safe = _safe_path(path)
                if safe is None:
                    raise OpError(
                        "PermissionError: secondary corpus path is "
                        "outside the configured --data-root",
                        status=403)
                return safe

            def _load(path):
                from .llm.export import load_corpus
                return load_corpus(docs.sparkSession, _jail(path))

            ctx = OpContext(
                docs=lambda: docs,
                embs=lambda: client.catalog.raw["embeddings"],
                params={k: _one(params, k) for k in params},
                load_corpus=_load,
                # streaming source paths (hybrid-stream src=/vecsrc=)
                # go through the SAME jail as loaded corpora
                corpus_path=_jail)
            try:
                out = CORPUS_OPS[op](ctx)
            except OpError as e:
                return self._send(e.status, "text/plain", str(e))
            out = out.limit(_row_cap(_one(params, "limit")))
            self._stream_json_seq(
                r.asDict(recursive=True) for r in out.toLocalIterator())

        def _file(self, params: dict, body: bytes):
            rec = client.get_file(
                fid=_one(params, "fid"), did=_one(params, "did"),
                with_metadata=not _flag(params, "skip_meta"))
            if rec is None:
                return self._send(404, "text/plain", "file not found")
            self._send(200, "application/json",
                       json.dumps(rec, default=str))

        def _datasets(self, params: dict, body: bytes):
            rows = client.list_datasets(
                _one(params, "pattern") or "*:*")
            self._send(200, "application/json",
                       json.dumps(rows, default=str))

        def _dataset(self, params: dict, body: bytes):
            """One dataset record + file count (data_handler.py
            dataset/dataset_count; exact_file_count=yes recounts)."""
            ds = _one(params, "dataset")
            if not ds or ":" not in ds:
                return self._send(400, "text/plain",
                                  "dataset=<namespace>:<name> required")
            ns, name = ds.split(":", 1)
            rows = client.query(f"datasets {ns}:{name}",
                                with_metadata=True)
            if not rows:
                return self._send(404, "text/plain",
                                  f"dataset not found: {ds}")
            rec = rows[0]
            rec["file_count"] = stats.nfiles(
                ns, name, exact=_flag(params, "exact_file_count"))
            self._send(200, "application/json",
                       json.dumps(rec, default=str))

        def _dataset_files(self, params: dict, body: bytes):
            """Files of one dataset as a json-seq stream
            (data_handler.py dataset_files)."""
            ds = _one(params, "dataset")
            if not ds or ":" not in ds:
                return self._send(400, "text/plain",
                                  "dataset=<namespace>:<name> required")
            mql = f"files from {ds}"
            page = _one(params, "page_size")
            self._stream_json_seq(client.query_iter(
                mql, with_metadata=_flag(params, "with_metadata"),
                include_retired_files=_flag(params,
                                            "include_retired_files"),
                after_id=_one(params, "after_id"),
                page_size=int(page) if page else None))

        def _datasets_for_files(self, params: dict, body: bytes):
            """Reverse membership lookup (data_handler.py:574):
            fids=a,b,c → {fid: [ns:name, ...]}. One pruned membership
            scan, never per-fid queries."""
            from pyspark.sql import functions as F
            fids = [f for f in (_one(params, "fids") or "").split(",")
                    if f]
            if not fids:
                return self._send(400, "text/plain", "fids=… required")
            rows = (client.catalog.files_datasets
                    .where(F.col("file_id").isin(fids))
                    .select("file_id", "dataset_namespace",
                            "dataset_name").collect())
            out = {f: [] for f in fids}
            for r in rows:
                out[r["file_id"]].append(
                    f"{r['dataset_namespace']}:{r['dataset_name']}")
            for v in out.values():
                v.sort()
            self._send(200, "application/json", json.dumps(out))

        # ------------------------------------------------- write path
        def _declare_files(self, params: dict, body: bytes):
            """POST JSON list of file records (data_handler.py
            declare_files); ?dataset=ns:name adds membership. DML
            validation errors surface as the 400 contract."""
            rows = json.loads(body.decode("utf-8") or "[]")
            if not isinstance(rows, list):
                return self._send(400, "text/plain",
                                  "body must be a JSON list")
            n = client.declare_files(_one(params, "dataset"), rows)
            self._send(200, "application/json",
                       json.dumps({"declared": n}))

        def _update_file_meta(self, params: dict, body: bytes):
            """POST {"metadata": {...}, "mode": "update"|"replace"}
            for ?fid=... (data_handler.py update_file_meta)."""
            fid = _one(params, "fid")
            if not fid:
                return self._send(400, "text/plain", "fid=… required")
            payload = json.loads(body.decode("utf-8") or "{}")
            client.update_file_metadata(
                fid, payload.get("metadata", {}),
                payload.get("mode", "update"))
            self._send(200, "application/json",
                       json.dumps({"updated": fid}))

        def _retire_file(self, params: dict, body: bytes):
            fid = _one(params, "fid")
            if not fid:
                return self._send(400, "text/plain", "fid=… required")
            client.retire_file(fid, by=_one(params, "by") or "http")
            self._send(200, "application/json",
                       json.dumps({"retired": fid}))

        def _create_dataset(self, params: dict, body: bytes):
            """POST ?dataset=ns:name with an optional JSON body of
            {description, frozen, monotonic, metadata, creator}
            (data_handler.py create_dataset)."""
            ds = _one(params, "dataset")
            if not ds or ":" not in ds:
                return self._send(400, "text/plain",
                                  "dataset=<namespace>:<name> required")
            ns, name = ds.split(":", 1)
            opts = json.loads(body.decode("utf-8") or "{}")
            client.dml.create_dataset(
                ns, name, description=opts.get("description", ""),
                frozen=bool(opts.get("frozen", False)),
                monotonic=bool(opts.get("monotonic", False)),
                metadata=opts.get("metadata"),
                creator=opts.get("creator", "http"))
            self._send(200, "application/json",
                       json.dumps({"created": ds}))

        def _add_files(self, params: dict, body: bytes):
            """POST ?dataset=ns:name with a JSON list of file ids —
            membership append with frozen/requirement enforcement
            (data_handler.py add_files)."""
            ds = _one(params, "dataset")
            if not ds or ":" not in ds:
                return self._send(400, "text/plain",
                                  "dataset=<namespace>:<name> required")
            ns, name = ds.split(":", 1)
            fids = json.loads(body.decode("utf-8") or "[]")
            if not isinstance(fids, list):
                return self._send(400, "text/plain",
                                  "body must be a JSON list of fids")
            n = client.dml.add_files_to_dataset(fids, ns, name)
            self._send(200, "application/json",
                       json.dumps({"added": n}))

        def _remove_files(self, params: dict, body: bytes):
            """POST ?dataset=ns:name with a JSON list of file ids —
            membership removal; frozen/monotonic enforced
            (data_handler.py remove_files)."""
            ds = _one(params, "dataset")
            if not ds or ":" not in ds:
                return self._send(400, "text/plain",
                                  "dataset=<namespace>:<name> required")
            ns, name = ds.split(":", 1)
            fids = json.loads(body.decode("utf-8") or "[]")
            if not isinstance(fids, list):
                return self._send(400, "text/plain",
                                  "body must be a JSON list of fids")
            client.dml.remove_files_from_dataset(fids, ns, name)
            self._send(200, "application/json",
                       json.dumps({"removed": len(fids)}))

        def _update_dataset(self, params: dict, body: bytes):
            """POST ?dataset=ns:name with {metadata, mode, frozen,
            monotonic, description} (data_handler.py update_dataset)."""
            ds = _one(params, "dataset")
            if not ds or ":" not in ds:
                return self._send(400, "text/plain",
                                  "dataset=<namespace>:<name> required")
            ns, name = ds.split(":", 1)
            opts = json.loads(body.decode("utf-8") or "{}")
            client.dml.update_dataset(
                ns, name, metadata=opts.get("metadata"),
                mode=opts.get("mode", "update"),
                frozen=opts.get("frozen"),
                monotonic=opts.get("monotonic"),
                description=opts.get("description"))
            self._send(200, "application/json",
                       json.dumps({"updated": ds}))

        def _namespaces(self, params: dict, body: bytes):
            rows = [r.asDict() for r in
                    client.catalog.namespaces.collect()]
            self._send(200, "application/json",
                       json.dumps(rows, default=str))

        def _files_batch(self, params: dict, body: bytes):
            """POST a JSON list of specs ({"fid": ...} or
            {"namespace": ..., "name": ...}, or "ns:name" / fid
            strings) — batch record lookup in ONE pruned scan
            (data_handler.py:1245-1263 `files`)."""
            specs = json.loads(body.decode("utf-8") or "[]")
            if not isinstance(specs, list):
                return self._send(400, "text/plain",
                                  "body must be a JSON list of specs")
            norm = []
            for s in specs:
                if isinstance(s, str):
                    if ":" in s:
                        ns, name = s.split(":", 1)
                        norm.append({"namespace": ns, "name": name})
                    else:
                        norm.append({"fid": s})
                else:
                    norm.append(s)
            rows = client.get_files(
                norm, with_metadata=_flag(params, "with_metadata"),
                with_provenance=_flag(params, "with_provenance"))
            self._send(200, "application/json",
                       json.dumps(rows, default=str))

        def _update_file(self, params: dict, body: bytes):
            """POST ?fid=... with {size, checksums, metadata, parents,
            children, replace} (data_handler.py update_file)."""
            fid = _one(params, "fid")
            if not fid:
                return self._send(400, "text/plain", "fid=… required")
            opts = json.loads(body.decode("utf-8") or "{}")
            if not isinstance(opts, dict):
                return self._send(400, "text/plain",
                                  "Unsupported request data format")
            client.update_file(
                fid, size=opts.get("size"),
                checksums=opts.get("checksums"),
                metadata=opts.get("metadata"),
                parents=opts.get("parents"),
                children=opts.get("children"),
                replace=bool(opts.get("replace", False)))
            self._send(200, "application/json",
                       json.dumps({"updated": fid}))

        def _delete_file(self, params: dict, body: bytes):
            """Hard delete by ?fid= or ?did=ns:name
            (data_handler.py:1010-1042); 404 when absent."""
            fid, did = _one(params, "fid"), _one(params, "did")
            from .dml import DMLError
            try:
                if fid:
                    out = client.dml.delete_file(fid=fid)
                elif did and ":" in did:
                    ns, name = did.split(":", 1)
                    out = client.dml.delete_file(namespace=ns,
                                                 name=name)
                else:
                    return self._send(400, "text/plain",
                                      "fid=… or did=ns:name required")
            except DMLError as e:
                if "not found" in str(e):
                    return self._send(404, "text/plain", str(e))
                raise
            self._send(200, "application/json",
                       json.dumps({"fid": out}))

        def _move_files(self, params: dict, body: bytes):
            """POST ?namespace=<to_ns> with a JSON list of fids
            (data_handler.py:885 move_files)."""
            to_ns = _one(params, "namespace")
            if not to_ns:
                return self._send(400, "text/plain",
                                  "namespace=… required")
            fids = json.loads(body.decode("utf-8") or "[]")
            if not isinstance(fids, list) or not fids:
                return self._send(400, "text/plain",
                                  "body must be a JSON list of fids")
            client.dml.move_files(fids, to_ns, by="http")
            self._send(200, "application/json",
                       json.dumps({"moved": len(fids),
                                   "namespace": to_ns}))

        def _remove_dataset(self, params: dict, body: bytes):
            """POST ?dataset=ns:name — drop the dataset, its
            membership and subset edges (data_handler.py:549)."""
            ds = _one(params, "dataset")
            if not ds or ":" not in ds:
                return self._send(400, "text/plain",
                                  "dataset=<namespace>:<name> required")
            ns, name = ds.split(":", 1)
            client.dml.remove_dataset(ns, name)
            self._send(200, "application/json",
                       json.dumps({"removed": ds}))

        def _add_child_dataset(self, params: dict, body: bytes):
            """POST ?parent=ns:name&child=ns:name — subset edge
            (data_handler.py:333 add_child_dataset)."""
            parent, child = _one(params, "parent"), _one(params, "child")
            if not parent or ":" not in parent \
                    or not child or ":" not in child:
                return self._send(
                    400, "text/plain",
                    "parent=ns:name and child=ns:name required")
            pns, pname = parent.split(":", 1)
            cns, cname = child.split(":", 1)
            client.dml.add_subset(pns, pname, cns, cname)
            self._send(200, "application/json",
                       json.dumps({"parent": parent, "child": child}))

        def _create_namespace(self, params: dict, body: bytes):
            """POST ?name=...&owner=... (data_handler.py:119)."""
            name = _one(params, "name")
            if not name:
                return self._send(400, "text/plain", "name=… required")
            client.dml.create_namespace(
                name, owner=_one(params, "owner") or "http")
            self._send(200, "application/json",
                       json.dumps({"created": name}))

        def _named_queries(self, params: dict, body: bytes):
            """List named queries, optionally one namespace's
            (data_handler.py:1413-1418)."""
            from pyspark.sql import functions as F
            qt = client.catalog.queries_tbl
            ns = _one(params, "namespace")
            if ns:
                qt = qt.where(F.col("namespace") == ns)
            rows = [r.asDict() for r in
                    qt.select("namespace", "name", "source", "creator",
                              "description").collect()]
            self._send(200, "application/json",
                       json.dumps(rows, default=str))

        def _named_query(self, params: dict, body: bytes):
            """One named-query record by ?namespace=&name= or
            ?query=ns:name; 404 when absent
            (data_handler.py:1420-1426)."""
            from pyspark.sql import functions as F
            ns, name = _one(params, "namespace"), _one(params, "name")
            q = _one(params, "query")
            if q and ":" in q:
                ns, name = q.split(":", 1)
            if not ns or not name:
                return self._send(
                    400, "text/plain",
                    "namespace=…&name=… (or query=ns:name) required")
            row = (client.catalog.queries_tbl
                   .where((F.col("namespace") == ns)
                          & (F.col("name") == name))
                   .select("namespace", "name", "source", "creator",
                           "description").first())
            if row is None:
                return self._send(404, "text/plain",
                                  f"named query not found: {ns}:{name}")
            self._send(200, "application/json",
                       json.dumps(row.asDict(), default=str))

        def _create_named_query(self, params: dict, body: bytes):
            """POST {namespace, name, source, description?};
            ?update=yes replaces an existing query, else a duplicate
            is 409 like the reference (data_handler.py:1428-1460)."""
            from .dml import AlreadyExists
            data = json.loads(body.decode("utf-8") or "{}")
            for k in ("namespace", "name", "source"):
                if not data.get(k):
                    return self._send(400, "text/plain",
                                      f"{k} required in body")
            try:
                client.dml.create_named_query(
                    data["namespace"], data["name"], data["source"],
                    creator=data.get("creator", "http"),
                    description=data.get("description", ""),
                    update=_flag(params, "update"))
            except AlreadyExists as e:
                return self._send(409, "text/plain",
                                  f"{type(e).__name__}: {e}")
            self._send(200, "application/json", json.dumps(
                {"namespace": data["namespace"], "name": data["name"],
                 "source": data["source"]}))

        def _search_queries(self, params: dict, body: bytes):
            """MQL query-query search (`queries matching ... where
            ...`) streamed as json-seq with metadata, like the
            reference (data_handler.py:1381-1411)."""
            mql = _one(params, "query")
            if mql is None and body:
                form = parse_qs(body.decode("utf-8"))
                mql = (_one(form, "query")
                       if "query" in form else body.decode("utf-8"))
            if not mql or not mql.strip():
                return self._send(200, "application/json", "[]")
            if not mql.lstrip().startswith("queries"):
                return self._send(400, "text/plain",
                                  "Invalid query type")
            self._stream_json_seq(client.query_iter(
                mql, with_metadata=True))

        def _categories(self, params: dict, body: bytes):
            """All parameter categories (data_handler.py:1463-1469)."""
            rows = ([r.asDict() for r in
                     client.catalog.parameter_categories.collect()]
                    if client.catalog.parameter_categories is not None
                    else [])
            for r in rows:
                if isinstance(r.get("definitions"), str):
                    r["definitions"] = json.loads(r["definitions"])
            self._send(200, "application/json",
                       json.dumps(rows, default=str))

        def _category(self, params: dict, body: bytes):
            """One category by ?path=; the reference returns JSON null
            for a miss (data_handler.py:1471-1481)."""
            from pyspark.sql import functions as F
            path = _one(params, "path")
            if not path:
                return self._send(400, "text/plain",
                                  "Category path not specified")
            pc = client.catalog.parameter_categories
            row = (None if pc is None
                   else pc.where(F.col("path") == path).first())
            if row is None:
                return self._send(200, "application/json", "null")
            d = row.asDict()
            if isinstance(d.get("definitions"), str):
                d["definitions"] = json.loads(d["definitions"])
            self._send(200, "application/json",
                       json.dumps(d, default=str))

        def _version(self, params: dict, body: bytes):
            self._send(200, "application/json", json.dumps(
                {"engine": "metacat_spark", "api": "data/v1"}))

        # ------------------------------------------------------ plumbing
        def _send(self, code: int, ctype: str, text: str):
            data = text.encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.send_header(VERSION_HEADER, str(client.catalog.version))
            self.end_headers()
            self.wfile.write(data)

    return Handler


def start_server(client: MetaCatSparkClient, host: str = "127.0.0.1",
                 port: int = 0, data_root: Optional[str] = None
                 ) -> tuple[ThreadingHTTPServer, int]:
    """Start serving in a daemon thread; returns (server, bound_port).
    port=0 picks a free port (tests).  ``data_root`` gates
    client-supplied filesystem paths (see make_handler)."""
    srv = ThreadingHTTPServer((host, port),
                              make_handler(client, data_root=data_root))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]


def main(argv: Optional[list] = None):
    import argparse

    from .catalog import from_materialized
    from .session import get_spark

    p = argparse.ArgumentParser(
        description="metacat_spark data server (json-seq streaming)")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8080)
    p.add_argument("--data-root", default=None,
                   help="allow /data/corpus?test= paths under this "
                        "subtree (default: disabled)")
    p.add_argument("--durable-root", default=None,
                   help="directory of the durable catalog commit log; "
                        "DML mutations persist there and are replayed "
                        "on startup (the reference's PostgreSQL "
                        "durability — a serve restart keeps declares)")
    a = p.parse_args(argv)
    spark = get_spark("metacat_spark_server")
    client = MetaCatSparkClient(
        spark, catalog=from_materialized(spark, a.sf_dir),
        durable_root=a.durable_root)
    srv, port = start_server(client, a.host, a.port,
                             data_root=a.data_root)
    print(f"serving on http://{a.host}:{port}")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        srv.shutdown()


if __name__ == "__main__":
    main()
