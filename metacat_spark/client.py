"""Client facade — the MetaCatClient-equivalent API shell
(reference: metacat/webapi/webapi.py).

Where the reference client speaks HTTP to a WSGI server that compiles
MQL to PostgreSQL, this facade drives the Spark engine directly; the
method surface mirrors the reference's names and result shapes (lists/
iterators of plain dicts) so reference users can switch with minimal
change. Async query concurrency (webapi.py:248-298) maps onto Spark's
scheduler: concurrent jobs from a thread pool share the session.
"""

from __future__ import annotations

import json
from concurrent.futures import Future, ThreadPoolExecutor
from typing import Iterator, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog, from_tpch
from .dml import DML
from .engine import FILE_OUTPUT_COLUMNS, Engine
from .mql import parse
from .mql.ast import FileQuery

# a full file record: the query projection's columns plus checksums
_RECORD_COLUMNS = FILE_OUTPUT_COLUMNS + ["checksums"]


class MetaCatSparkClient:
    def __init__(self, spark: SparkSession, sf_dir: Optional[str] = None,
                 catalog: Optional[Catalog] = None,
                 max_concurrent_queries: int = 5,
                 durable_root: Optional[str] = None):
        if catalog is None:
            if sf_dir is None:
                raise ValueError("need sf_dir or catalog")
            catalog = from_tpch(spark, sf_dir)
        self.catalog = catalog
        store = None
        if durable_root:
            # durable catalog mode (r8): committed DML state overlays
            # the base catalog at startup; every mutation appends to
            # the commit log — the reference's PostgreSQL persistence
            # (schema.sql:51-66), re-expressed as a parquet commit log
            from .durable import DurableStore
            store = DurableStore(spark, durable_root)
            store.attach(catalog)
        self.engine = Engine(catalog)
        self.dml = DML(catalog, store=store)
        # 5 concurrent queries, like the reference client default
        # (webapi.py:248,277)
        self._pool = ThreadPoolExecutor(max_workers=max_concurrent_queries)

    # ------------------------------------------------------------ queries
    def query(self, mql: str, with_metadata: bool = False,
              with_provenance: bool = False, summary: Optional[str] = None,
              include_retired_files: bool = False,
              namespace: Optional[str] = None,
              save_as: Optional[str] = None,
              add_to: Optional[str] = None,
              after_id: Optional[str] = None,
              page_size: Optional[int] = None) -> list[dict]:
        """Run MQL, return a list of dicts (webapi.py:1238-1294 shape).
        save_as/add_to take "namespace:name" and materialize the result
        as dataset membership before returning. after_id/page_size are
        the id-cursor pagination surface (no global sort, unlike
        `skip`).

        Known cost (deliberate): with save_as/add_to the underlying
        file-set plan executes twice — once for the membership write,
        once for the returned rows. Sharing one DataFrame would
        couple the query projection (summary/meta/pagination shapes)
        to DML internals; the reference pays the same double cost
        (query then add_files round-trips), and the DML path is not
        a hot path here.

        The rows arrive in one collect: the served callers read one
        row (a count summary, a dataset record) or a driver-held table,
        where an Arrow fetch's fixed cost outweighs the conversion it
        saves and, over a local relation, submits a Spark job that a
        collect does not."""
        _, df = self._result(mql, with_metadata, with_provenance, summary,
                             include_retired_files, namespace, save_as,
                             add_to, after_id, page_size)
        return list(_records(df, "collect"))

    def query_iter(self, mql: str, with_metadata: bool = False,
                   with_provenance: bool = False,
                   summary: Optional[str] = None,
                   include_retired_files: bool = False,
                   namespace: Optional[str] = None,
                   save_as: Optional[str] = None,
                   add_to: Optional[str] = None,
                   after_id: Optional[str] = None,
                   page_size: Optional[int] = None) -> Iterator[dict]:
        """Streaming variant of query() with its keywords (json-seq
        equivalent). A dataset or named-query result, a plan over the
        driver-held tables and small by construction, is collected: no
        Spark job. On a catalog of one partition the whole ``files``
        table fits one advisory partition, so a file result is fetched
        in one Arrow collect and yielded a record batch at a time; over
        n > 1 partitions it streams partition-wise, so the driver never
        holds more than one partition of it. The plan is built on one
        pinned catalog state, and the stream keeps reading that plan
        whatever publishes later."""
        kind, df = self._result(mql, with_metadata, with_provenance,
                                summary, include_retired_files, namespace,
                                save_as, add_to, after_id, page_size)
        yield from _records(df, "collect" if kind is not FileQuery
                            else "arrow" if self.catalog.partitions == 1
                            else "stream")

    def _result(self, mql: str, with_metadata: bool, with_provenance: bool,
                summary: Optional[str], include_retired_files: bool,
                namespace: Optional[str], save_as: Optional[str],
                add_to: Optional[str], after_id: Optional[str],
                page_size: Optional[int]):
        """(class of the parsed query, result DataFrame) of query()/
        query_iter(), planned on one pinned catalog state, after the
        save_as/add_to sinks ran."""
        top = parse(mql, default_namespace=namespace)
        with self.catalog.pin():
            df = self.engine.query(top, with_meta=with_metadata,
                                   with_provenance=with_provenance,
                                   summary=summary,
                                   include_retired=include_retired_files,
                                   after_id=after_id, page_size=page_size)
            self._materialize(mql, save_as, add_to, include_retired_files,
                              namespace)
        return type(top), df

    def _materialize(self, mql: str, save_as: Optional[str],
                     add_to: Optional[str], include_retired: bool,
                     namespace: Optional[str]) -> None:
        """The save_as/add_to sinks of query() and query_iter(): the
        pinned file set, written to the dataset named "ns:name"."""
        if not (save_as or add_to):
            return
        fs = self.engine.file_set(mql, include_retired=include_retired,
                                  default_namespace=namespace)
        if save_as:
            self.dml.save_as(fs, *self._split_did(save_as, "save_as"))
        if add_to:
            self.dml.add_to(fs, *self._split_did(add_to, "add_to"))

    def stream_json_seq(self, mql: str, fp, **kw) -> int:
        """Write the result as RFC 7464 json-seq (RS + JSON + LF per
        record) — the reference server's streaming wire format
        (rfc7464.py, data_handler.py json-seq responses). Backed by
        query_iter: a dataset or named-query result is collected; at
        one partition a file result is framed a record batch at a time
        from one Arrow fetch, over n > 1 partitions one partition at a
        time. Returns the record count."""
        n = 0
        for d in self.query_iter(mql, **kw):
            fp.write("\x1e" + json.dumps(d, default=str) + "\n")
            n += 1
        return n

    def async_query(self, mql: str, **kw) -> Future:
        """Promise-returning variant (webapi.py:1296-1323)."""
        return self._pool.submit(self.query, mql, **kw)

    def explain(self, mql: str, with_metadata: bool = False,
                with_provenance: bool = False,
                summary: Optional[str] = None,
                include_retired_files: bool = False,
                namespace: Optional[str] = None) -> str:
        """Engine explain under the CLIENT surface's kwarg names —
        the names query() takes (review r7: explain(namespace=...)
        raised TypeError while query(namespace=...) worked, because
        **kw forwarded client names to engine parameters)."""
        return self.engine.explain(
            mql, with_meta=with_metadata,
            with_provenance=with_provenance, summary=summary,
            include_retired=include_retired_files,
            default_namespace=namespace)

    # ------------------------------------------------------------- lookup
    def get_file(self, fid: Optional[str] = None,
                 did: Optional[str] = None,
                 with_metadata: bool = True) -> Optional[dict]:
        """Full file record (webapi get_file, data_handler.py file
        GET): direct bucketed-table lookup — one pruned bucket and one
        Spark job (a collect: an Arrow fetch's fixed cost outweighs
        the conversion of one row), not an MQL query — returning every
        attribute incl. checksums."""
        from pyspark.sql import functions as F
        files = self.catalog.files
        if fid is not None:
            hit = F.col("id") == fid
        elif did is not None:
            ns, name = self._split_did(did, "did")
            hit = (F.col("namespace") == ns) & (F.col("name") == name)
        else:
            raise ValueError("need fid or did")
        cols = _RECORD_COLUMNS + (["metadata"] if with_metadata else [])
        return next(_records(files.where(hit).select(*cols), "collect"),
                    None)

    def get_files(self, specs: list[dict], with_metadata: bool = True,
                  with_provenance: bool = False) -> list[dict]:
        """Batch lookup (webapi get_files, data_handler.py:1245-1263
        `files`): each spec carries ``fid`` or ``namespace``+``name``.
        ONE pruned scan with an OR of two isin filters — never a
        per-spec query loop; provenance arrives as the same two
        grouped joins the query projection uses."""
        from pyspark.sql import functions as F
        fids = [s["fid"] for s in specs if s.get("fid")]
        dids = [f"{s['namespace']}:{s['name']}" for s in specs
                if not s.get("fid") and s.get("namespace")
                and s.get("name")]
        hit = F.lit(False)
        if fids:
            hit = hit | F.col("id").isin(fids)
        if dids:
            hit = hit | F.concat_ws(":", "namespace", "name").isin(dids)
        cols = _RECORD_COLUMNS + (["metadata"] if with_metadata else [])
        with self.catalog.pin():
            out = self.catalog.files.where(hit).select(*cols)
            if with_provenance:
                out = self.engine.with_provenance(out)
        return list(_records(out, "arrow"))

    def list_datasets(self, pattern: str = "*:*") -> list[dict]:
        """The datasets whose namespace and name match the globs of
        ``pattern`` ("ns:name", ``*``/``?`` wildcards); every dataset
        by default."""
        ns, pat = self._split_did(pattern, "pattern")
        return self.query(f"datasets matching {ns}:{pat}")

    # ---------------------------------------------------------------- DML
    def declare_files(self, dataset: Optional[str], rows: list[dict]) -> int:
        ds = self._split_did(dataset, "dataset") if dataset else None
        return self.dml.declare_files(rows, dataset=ds)

    def update_file_metadata(self, fid: str, metadata: dict,
                             mode: str = "update") -> None:
        self.dml.update_file_metadata(fid, metadata, mode)

    def retire_file(self, fid: str, by: str = "client") -> None:
        self.dml.retire_file(fid, by)

    def update_file(self, fid: str, **kw) -> None:
        """Attribute/provenance update passthrough (webapi
        update_file): size, checksums, metadata, parents, children,
        replace."""
        self.dml.update_file(fid, **kw)

    # ------------------------------------------------------------ helpers
    @staticmethod
    def _split_did(value: str, what: str) -> tuple[str, str]:
        """'namespace:name' → (namespace, name), with a usable error
        for colon-less input (review r7: the bare tuple-unpack
        ValueError gave no hint of the expected format)."""
        ns, sep, name = value.partition(":")
        if not sep or not ns or not name:
            raise ValueError(
                f"{what} must be 'namespace:name', got {value!r}")
        return ns, name


def _records(df: DataFrame, fetch: str) -> Iterator[dict]:
    """``df``'s rows as plain dicts (the records json-seq frames), each
    ``metadata`` JSON text parsed. ``fetch`` is how the rows reach the
    driver: ``"arrow"``, one Arrow collect converted one record batch
    at a time; ``"collect"``, one collect of ``Row``s; ``"stream"``,
    ``toLocalIterator``, one partition at a time. All give the records
    a ``Row`` gives: Arrow's UTC-aware ``TimestampType`` values become
    naive local times, and its key-value lists (map columns) dicts in
    the order the table stores the keys (a ``Row`` lists them in the
    JVM's hash order: the same JSON object). Only top-level columns
    are converted; no served result nests a timestamp or a map."""
    if fetch != "arrow":
        rows = df.collect() if fetch == "collect" else df.toLocalIterator()
        for r in rows:
            yield _parsed(r.asDict(recursive=True))
        return
    table = df.toArrow()
    fix = {f.name: _local if pa.types.is_timestamp(f.type) else dict
           for f in table.schema
           if pa.types.is_map(f.type)
           or pa.types.is_timestamp(f.type) and f.type.tz}
    for batch in table.to_batches():
        for d in batch.to_pylist():
            for name, conv in fix.items():
                if d[name] is not None:
                    d[name] = conv(d[name])
            yield _parsed(d)


def _local(ts):
    """A UTC-aware timestamp as the naive local time a ``Row`` holds."""
    return ts.astimezone().replace(tzinfo=None)


def _parsed(d: dict) -> dict:
    meta = d.get("metadata")
    if isinstance(meta, str):
        try:
            d["metadata"] = json.loads(meta)
        except ValueError:
            pass
    return d
