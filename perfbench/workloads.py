"""The two served-catalog workloads: read_mix and write_mix.

Both serve a ``catalog.from_tpch`` catalog through ``server.start_server``
and drive it over HTTP from closed-loop client threads in this process.
"""

from __future__ import annotations

import http.client
import json
import math
import queue
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from urllib.parse import urlencode

import loadgen
import oracle as OR
from spans import RID_HEADER

WARM_QUERY = {"query": "files from test:all limit 1"}


def http_call(port: int, method: str, path: str, params: dict,
              body=None, rid=None) -> tuple[int, bytes, float]:
    """(status, body, seconds) of one request on a fresh connection."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=150)
    url = path + ("?" + urlencode(params) if params else "")
    headers = {RID_HEADER: rid} if rid else {}
    try:
        t = time.perf_counter()
        conn.request(method, url, body=body, headers=headers)
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, data, time.perf_counter() - t
    finally:
        conn.close()


@dataclass
class Call:
    """One measured request."""
    rid: str
    kind: str
    seconds: float
    ok: bool
    nbytes: int = 0
    rows: int = 0
    req: object = None
    result: object = None


class Service:
    """A served catalog: catalog, client facade and HTTP server."""

    def __init__(self, spark, src_root: str, durable_root=None):
        from metacat_spark.catalog import from_tpch
        from metacat_spark.client import MetaCatSparkClient
        from metacat_spark.server import start_server
        t0 = time.perf_counter()
        cat = from_tpch(spark, src_root)
        self.catalog_s = time.perf_counter() - t0
        self.client = MetaCatSparkClient(spark, catalog=cat,
                                         durable_root=durable_root)
        self.server, self.port = start_server(self.client)
        self.durable_root = durable_root
        status, _, _ = http_call(self.port, "GET", "/data/query",
                                 WARM_QUERY)
        if status != 200:
            raise RuntimeError(f"warm query answered {status}")
        self.setup_s = time.perf_counter() - t0

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.client._pool.shutdown(wait=True)


def closed_loop(n_clients: int, seconds: float, step) -> None:
    """Run ``step(client_no, late)`` in ``n_clients`` threads until it
    returns False; ``late`` says the ``seconds`` window has passed."""
    deadline = time.perf_counter() + seconds
    errors = []

    def loop(c):
        try:
            while step(c, time.perf_counter() >= deadline):
                pass
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)
    threads = [threading.Thread(target=loop, args=(c,), daemon=True)
               for c in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=seconds + 170)
    if errors:
        raise errors[0]
    if any(t.is_alive() for t in threads):
        raise RuntimeError("load thread did not finish")


# ------------------------------------------------------------ read_mix
class ReadMix:
    # two clients: the server answers concurrent requests, and two are
    # already as many completions per second as four on four cores,
    # with half the queueing in each latency
    CLIENTS = 2
    # one untimed block, so no class meets its cold first run in the
    # window; the first blocks after it still run slower while the JVM
    # compiles its hot paths, which the per-class medians leave out
    WARM_BLOCKS = 1
    MIN_UNITS = 4           # whole blocks measured, whatever --seconds

    def __init__(self, tables, seed: int):
        self.tables = tables
        self.requests = loadgen.read_requests(tables, seed, 4000)
        self.cursor = 0
        self.warm = loadgen.read_requests(tables, seed + 1,
                                          self.WARM_BLOCKS * loadgen.BLOCK)

    def send(self, port: int, req, rid: str) -> Call:
        try:
            status, body, dt = http_call(port, "GET", req.path,
                                         req.params, rid=rid)
        except OSError:
            return Call(rid, req.kind, 0.0, False, req=req)
        call = Call(rid, req.kind, dt, status == 200, len(body), req=req)
        if call.ok:
            try:
                if req.oracle[0] == "count":
                    got = json.loads(body)
                    call.result = (got["count"], got["total_size"])
                    call.rows = 1
                else:
                    call.result = OR.response_ids(req.path, body)
                    call.rows = len(call.result)
            except (ValueError, KeyError):
                call.ok = False
        return call

    def warm_up(self, port: int) -> None:
        todo = iter(self.warm)
        lock = threading.Lock()

        def step(c, late):
            with lock:
                r = next(todo, None)
            if r is not None:
                self.send(port, r, "warm")
            return r is not None
        closed_loop(self.CLIENTS, 0, step)

    def run(self, port: int, seconds: float, tag: str,
            min_units: int = MIN_UNITS) -> dict:
        """Send requests from the shared cursor for ``seconds`` and at
        least ``min_units`` blocks, then on to the end of the current
        block, so every run serves whole blocks: the same mix of
        classes, whatever the seed. The cursor carries over to the next
        call."""
        calls: list[Call] = []
        lock = threading.Lock()
        first = self.cursor
        least = first + min_units * loadgen.BLOCK

        def step(c, late):
            with lock:
                if late and self.cursor >= least \
                        and self.cursor % loadgen.BLOCK == 0:
                    return False
                i = self.cursor
                self.cursor += 1
            calls.append(self.send(port, self.requests[i], f"{tag}{i}"))
            return True
        closed_loop(self.CLIENTS, seconds, step)
        return {"reads": calls, "writes": [],
                "ops_per_s": round_rate(calls, loadgen.READ_CLASSES,
                                        self.CLIENTS),
                "requests": self.requests[first:self.cursor]}

    def check(self, svc, spark, calls) -> int:
        """Number of wrong responses, against DuckDB, computed once per
        distinct request."""
        orc = OR.Oracle(self.tables.root)
        try:
            expected, wrong = {}, 0
            for c in calls:
                if not c.ok:
                    continue
                key = c.req.key
                if key not in expected:
                    expected[key] = orc.expected(c.req.oracle)
                if not OR.matches(c.req.oracle, c.result, expected[key]):
                    wrong += 1
            return wrong
        finally:
            orc.close()


# ----------------------------------------------------------- write_mix
@dataclass
class WriteState:
    """What the writer has acknowledged, for read-your-writes checks."""
    base: dict
    committed: dict = field(default_factory=dict)
    pending: dict = field(default_factory=dict)
    batches: list = field(default_factory=list)
    meta: dict = field(default_factory=dict)       # fid -> metadata
    retired: set = field(default_factory=set)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def bounds(self, ds: str) -> tuple[int, int]:
        with self.lock:
            c = self.base[ds] + self.committed.get(ds, 0)
            return c, c + self.pending.get(ds, 0)


class WriteMix:
    """One writer and one reader in step: after each acknowledged write
    the reader reads it back while the writer goes on with the next
    one, so every read meets the same write in flight, run to run."""
    # whole cycles measured, whatever --seconds: with no warm-up, the
    # per-kind medians of three leave out the cold first cycle
    MIN_UNITS = 3

    def __init__(self, tables, seed: int):
        self.tables = tables
        self.ops = loadgen.write_ops(seed, 400)
        self.picks = loadgen.read_picks(seed, len(self.ops))
        self.state = WriteState(base={d: len(tables.dataset_files[d])
                                      for d in loadgen.WRITABLE})
        self.next_op = 0
        self.wrong = 0

    # writer ------------------------------------------------------------
    def write(self, port: int, op, rid: str) -> Call:
        st = self.state
        if op.dataset:
            with st.lock:
                st.pending[op.dataset] = st.pending.get(op.dataset, 0) \
                    + op.grows_by
        try:
            status, _, dt = http_call(port, "POST", op.path, op.params,
                                      op.body, rid=rid)
        except OSError:
            status, dt = 0, 0.0
        ok = status == 200
        with st.lock:
            if op.dataset:
                st.pending[op.dataset] -= op.grows_by
                if ok:
                    st.committed[op.dataset] = \
                        st.committed.get(op.dataset, 0) + op.grows_by
            if ok and op.kind == "declare":
                for r in op.declared:
                    st.meta[r["id"]] = dict(r["metadata"])
                st.batches.append(op)
            elif ok and op.kind == "update":
                st.meta[op.params["fid"]].update(
                    json.loads(op.body)["metadata"])
            elif ok and op.kind == "retire":
                st.retired.add(op.params["fid"])
        return Call(rid, op.kind, dt, ok)

    # reader ------------------------------------------------------------
    def read(self, port: int, op, u: float, rid: str) -> Call:
        """Read back acknowledged write ``op``: the files a declare or
        update wrote, with metadata ("ryw"), or the count of the dataset
        an add or retire belongs to ("count")."""
        st = self.state
        if op.kind in ("declare", "update"):
            if op.kind == "declare":
                # name and core.run only: the next op may update core.x
                recs = op.declared
                i = int(u * len(recs))
                want = {r["id"]: (r["name"], "core.run",
                                  r["metadata"]["core.run"])
                        for r in (recs[i], recs[(i + 7) % len(recs)])}
            else:
                meta = json.loads(op.body)["metadata"]
                want = {op.params["fid"]: (None, "core.x", meta["core.x"])}
            params = {"query": "fids " + ", ".join(want), "with_meta": "yes"}
            try:
                status, body, dt = http_call(port, "GET", "/data/query",
                                             params, rid=rid)
            except OSError:
                return Call(rid, "ryw", 0.0, False)
            if status != 200:
                return Call(rid, "ryw", dt, False)
            got = {}
            for f in body.split(b"\x1e"):
                if f.strip():
                    d = json.loads(f)
                    got[d["id"]] = d
            good = set(got) == set(want) and all(
                name in (None, got[fid]["name"])
                and got[fid]["metadata"].get(key) == value
                for fid, (name, key, value) in want.items())
            return self._checked(Call(rid, "ryw", dt, True, len(body),
                                      len(got)), good)
        with st.lock:
            ds = op.dataset or st.batches[-1].dataset
        lo, _ = st.bounds(ds)
        params = {"query": f"files from {ds}", "summary": "count",
                  "include_retired_files": "yes"}
        try:
            status, body, dt = http_call(port, "GET", "/data/query", params,
                                         rid=rid)
        except OSError:
            return Call(rid, "count", 0.0, False)
        if status != 200:
            return Call(rid, "count", dt, False)
        _, hi = st.bounds(ds)
        n = json.loads(body)["count"]
        return self._checked(Call(rid, "count", dt, True, len(body), 1),
                             lo <= n <= hi)

    def _checked(self, call: Call, good: bool) -> Call:
        self.wrong += not good
        return call

    def warm_up(self, port: int) -> None:
        """Nothing: an untimed cycle would cost as much as a measured
        one, and the per-kind medians already leave the cold one out."""

    def run(self, port: int, seconds: float, tag: str,
            min_units: int = MIN_UNITS) -> dict:
        """The writer runs for ``seconds`` and at least ``min_units``
        cycles, then on to the end of its current WRITE_CYCLE, so every
        run times whole cycles; the reader reads back every acknowledged
        write and stops after the last."""
        writes, reads = [], []
        acked: queue.Queue = queue.Queue()
        cycle = len(loadgen.WRITE_CYCLE)
        least = self.next_op + min_units * cycle

        def step(c, late):
            if c == 1:
                item = acked.get()
                if item is None:
                    return False
                i, op = item
                reads.append(self.read(port, op, self.picks[i],
                                       f"{tag}r{len(reads)}"))
                return True
            if late and self.next_op >= least \
                    and self.next_op % cycle == 0:
                acked.put(None)
                return False
            i = self.next_op
            op = self.ops[i]
            self.next_op += 1
            try:
                call = self.write(port, op, f"{tag}w{len(writes)}")
            except BaseException:
                acked.put(None)
                raise
            writes.append(call)
            if call.ok:
                acked.put((i, op))
            return True
        closed_loop(2, seconds, step)
        return {"writes": writes, "reads": reads,
                "ops_per_s": round_rate(writes, loadgen.WRITE_CYCLE)}

    def check(self, svc, spark, calls) -> int:
        """Wrong outcomes: those the reader saw during the run, then,
        through a fresh client attached to the same durable root,
        declared files without their expected metadata or retired flag
        and dataset counts not grown by exactly what was acknowledged."""
        from metacat_spark.catalog import from_tpch
        from metacat_spark.client import MetaCatSparkClient
        st, wrong = self.state, self.wrong
        fresh = MetaCatSparkClient(spark,
                                   catalog=from_tpch(spark,
                                                     self.tables.root),
                                   durable_root=svc.durable_root)

        def count(ds):
            return fresh.query(f"files from {ds}", summary="count",
                               include_retired_files=True)[0]["count"]
        try:
            with ThreadPoolExecutor(4) as pool:
                counts = {ds: pool.submit(count, ds) for ds in st.base
                          if st.committed.get(ds)}
                rows = {r["id"]: r for r in fresh.query(
                    "fids " + ", ".join(sorted(st.meta)),
                    with_metadata=True)} if st.meta else {}
                wrong += sum(f.result() != st.base[ds] + st.committed[ds]
                             for ds, f in counts.items())
        finally:
            fresh._pool.shutdown(wait=True)
        for fid, meta in st.meta.items():
            r = rows.get(fid)
            wrong += r is None or r["retired"] != (fid in st.retired) \
                or any(r["metadata"].get(k) != v for k, v in meta.items())
        return wrong


def round_rate(calls, kinds, clients: int = 1) -> float:
    """Completions per second of ``clients`` closed-loop clients that
    each send every one of ``kinds`` once per round, at the run's median
    latency of each kind. Every run weighs the kinds alike, and the
    slow first requests of a process, or one slow request among few
    samples, move it little. Falls back to completions per second of
    request time when a kind has no successful sample."""
    ok = [c for c in calls if c.ok]
    by_kind = {k: [c.seconds for c in ok if c.kind == k] for k in kinds}
    if all(by_kind.values()):
        return clients * len(by_kind) / sum(statistics.median(v)
                                            for v in by_kind.values())
    return clients * len(ok) / max(1e-9, sum(c.seconds for c in calls))


def median_ms(calls) -> float:
    return 1000.0 * statistics.median(c.seconds for c in calls)


def class_p50_ms(calls) -> float:
    """Geometric mean over request kinds of each kind's median latency.
    Unlike the median of all requests it cannot jump from one kind's
    latency to another's as the run's mix of kinds shifts, and a kind
    made twice as fast moves it alike, cheap kind or dear."""
    kinds = sorted({c.kind for c in calls})
    return math.exp(sum(math.log(median_ms([c for c in calls
                                             if c.kind == k]))
                        for k in kinds) / len(kinds))
