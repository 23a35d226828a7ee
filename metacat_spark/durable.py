"""Durable catalog mode — DML writes that survive a restart.

The reference persists every write in PostgreSQL (schema
/root/reference/metacat/db/schema.sql:51-66; COPY-based bulk declare
dbobjects2.py:525-557), so a declare outlives the server process.
This module is the Spark-first equivalent: a commit-log directory of
parquet segments plus JSON commit manifests, modeled on the
Delta-Lake/Iceberg transaction-log pattern (data files + an ordered
log; readers take the highest complete commit).

Layout under ``root``::

    _commits/000000000001.json          ordered manifests; highest wins
    files/c00000001-0-<attempt>-upsert/   parquet segment (full rows)
    files/c00000005-0-<attempt>-delete/   parquet segment (keys only)
    datasets/c00000002-0-<attempt>-snapshot/  full small-table snapshot

(<attempt> is a per-commit-attempt token so racing writers can never
write the same data path; paths are only ever referenced through
manifests, never parsed.)

Two persistence strategies, chosen per table by its size class:

- **Journaled tables** (``files``, ``files_datasets``,
  ``parent_child`` — the catalog's big three, the same trio the
  warehouse buckets): each DML commit appends only the DELTA — the
  upserted rows, or the deleted keys — as one parquet segment. A
  declare of 100 files writes 100 rows, never the whole files table;
  that is the property that keeps a billion-file catalog writable
  (the reference's row-level INSERT/UPDATE, re-expressed as an
  append-only log).
- **Snapshot tables** (``datasets``, ``datasets_parent_child``,
  ``namespaces``, ``queries_tbl``, ``parameter_categories`` — one row
  per dataset/namespace/query/category, small by construction): each
  mutation rewrites the full table; O(table) is O(tiny). The catalog
  holds every version of one on the driver, as a local relation: DML
  builds the new rows there and journals that same Arrow table as the
  snapshot, and ``attach`` collects a restored snapshot into one.

Who writes a segment depends on what sized it (``DurableStore.commit``).
A request-sized segment — the rows a request built or names, or a
small table's snapshot — is one Arrow table on the driver, written as
one parquet file with ``pyarrow.parquet``: no Spark write job and no
Hadoop commit protocol, so a write costs about as much as its rows, as
the reference's row-level INSERT does. A ``QuerySized`` segment (a
``compact()`` snapshot, a query result added to a dataset) keeps
Spark's writer. Both produce the same directory of parquet files, and
restores read either with Spark.

The log holds catalog tables and nothing else: the write rules DML
enforces are table rows too — validation categories in
``parameter_categories``, each dataset's frozen/monotonic flags and
file metadata requirements in ``datasets``. (Roots written before the
requirements became a ``datasets`` column kept them in the manifest's
``dml_meta``; ``attach`` still reads that, and the next ``datasets``
snapshot drops it.)

Restore (``DurableStore.attach``) rebuilds each journaled table as::

    base  ANTI-JOIN  latest-journal-keys
    UNION latest-journal-upserts

where "latest" is one ``row_number`` window over the journal ordered
by commit sequence (latest op per key wins) — ONE window over the
journal (small relative to the catalog between compactions) and one
anti join against the base, run once, in ``attach``: the restored
table is resident, computed and laid out on its file-id key
(``Catalog.resident``), so requests read the cached result rather
than re-running the window. Segments are read with the schema their
writer used, so restoring runs no job per segment.
``compact()`` folds base+journal into a fresh snapshot
and truncates the log, bounding both restore cost and the
merge-on-read overlay.

Durability contract (documented in docs/DIVERGENCES.md): commits are
write-behind — a mutator updates session state first, then flushes
its journal ops at the outermost mutation boundary. The manifest
rename is the commit point: a crash mid-segment-write leaves an
unreferenced directory (garbage, never read); a crash before the
rename loses that one mutation, exactly like a WAL that never synced.
Readers take the highest PARSEABLE manifest, so a torn manifest write
degrades to the previous commit instead of corrupting the catalog.
"""

from __future__ import annotations

import json
import logging
import os
import uuid
from dataclasses import dataclass
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import with_requirements

# latest-wins journal key per journaled table (the reference's PKs,
# schema.sql:45-104)
TABLE_KEYS = {
    "files": ["id"],
    "files_datasets": ["file_id", "dataset_namespace", "dataset_name"],
    "parent_child": ["parent_id", "child_id"],
}
SNAPSHOT_TABLES = ("datasets", "datasets_parent_child", "namespaces",
                   "queries_tbl", "parameter_categories")
ALL_TABLES = tuple(TABLE_KEYS) + SNAPSHOT_TABLES
# a variant-mode files table's VariantType twin of ``metadata``: not
# stored in pyarrow-written segments, derived from ``metadata`` on replay
VARIANT_COLUMN = "metadata_v"


@dataclass(frozen=True)
class QuerySized:
    """A journal payload whose row count a query decides, not the
    request: a ``compact()`` snapshot, a query result added to a dataset
    (``add_to``/``save_as``), a removed dataset's membership keys.
    Spark's parquet writer writes it from the executors, so no write is
    bounded by driver memory. Every other payload is sized by the
    request (see ``DurableStore.commit``)."""
    df: DataFrame


def _null_as(dtype) -> F.Column:
    """NULL literal of an arbitrary catalog column type; VariantType
    has no cast-from-null, so it goes through parse_json(NULL)."""
    if isinstance(dtype, T.VariantType):
        return F.parse_json(F.lit(None).cast("string"))
    return F.lit(None).cast(dtype)


class CommitConflict(Exception):
    """Another writer published this commit number first (two
    processes sharing one durable root). The loser's session state is
    now AHEAD of what it believes the log holds — reload the catalog
    (fresh attach) before retrying; the conflicting segments are
    unreferenced garbage, never corruption."""

    def __init__(self, commit: int, root: str):
        super().__init__(
            f"commit {commit} already published at {root} by another "
            f"writer — reload the catalog before retrying (one writer "
            f"process per root is the supported mode; see "
            f"docs/DIVERGENCES.md §9)")
        self.commit = commit


class DurableStore:
    """One store per catalog root directory. Driver-side object.
    Restores read segments with Spark. A commit writes a request-sized
    segment as one parquet file built on the driver with
    ``pyarrow.parquet``, and a ``QuerySized`` one with Spark's writer
    (``commit``); segment files, manifests and the checkpoint pointer
    go through plain-file I/O under a local root, the Hadoop
    filesystem under a URI root."""

    def __init__(self, spark: SparkSession, root: str,
                 at: Optional[int] = None,
                 create_if_absent=None):
        """``at``: time travel — attach the catalog AS OF commit
        ``at`` instead of the latest (every numbered manifest is a
        complete self-describing snapshot-plus-journal pointer, so
        any historical commit replays the same way the current one
        does — the Delta `VERSION AS OF` analogue). A store opened
        with ``at`` is read-only by convention: committing from it
        raises CommitConflict at publish time because its commit
        number collides with history.

        ``create_if_absent``: the OBJECT-STORE portability hook
        (r10). A callable ``(dest_path: str, data: bytes) -> bool``
        that must atomically create ``dest_path`` with ``data`` iff
        it does not exist, returning False (or raising
        FileExistsError) when it does — the one primitive the
        single-winner commit protocol needs. When None, the built-in
        publish runs (os.link create-if-absent locally, rename-
        refuses-existing on HDFS-class URIs). Install a hook to run
        the log on stores whose rename is non-atomic: map it to a
        conditional PUT — S3 `If-None-Match: *`, GCS
        `x-goog-if-generation-match: 0`, ABFS ETag preconditions —
        and the Delta-on-S3 coordinating-LogStore gap closes without
        touching the protocol (the loser's segments stay
        unreferenced garbage exactly as on local FS)."""
        self.spark = spark
        self.root = root.rstrip("/")
        self._uri = "://" in self.root
        self.at = at
        self._create_if_absent = create_if_absent
        self.manifest = self._read_current() or {
            "commit": 0, "seq": 0, "tables": {}}
        if at is not None and self.manifest["commit"] != at:
            raise ValueError(
                f"no commit {at} at {self.root} (latest parseable "
                f"history: {self._list_commit_ids()[-5:]})")

    # ------------------------------------------------------ manifest I/O
    def _commits_dir(self) -> str:
        return f"{self.root}/_commits"

    def _hadoop(self, path: str):
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(self.spark._jsc.hadoopConfiguration()), p

    def _list_commit_ids(self) -> list[int]:
        if self._uri:
            fs, p = self._hadoop(self._commits_dir())
            if not fs.exists(p):
                return []
            names = [s.getPath().getName() for s in fs.listStatus(p)]
        else:
            try:
                names = os.listdir(self._commits_dir())
            except FileNotFoundError:
                return []
        return sorted(int(n[:-5]) for n in names
                      if n.endswith(".json") and n[:-5].isdigit())

    def _checkpoint_path(self) -> str:
        # lives inside _commits but has no .json suffix, so
        # _list_commit_ids never mistakes it for a manifest
        return f"{self._commits_dir()}/_last_checkpoint"

    def _read_checkpoint(self) -> int:
        """Commit id of the last compaction (0 if never compacted).
        Manifests below it are retired; history and time travel
        already reach back only this far (compact deletes superseded
        segment data), so the pointer makes the log window explicit
        and lets _write_manifest reject a writer stale by more than
        one compaction (VERDICT r8 #4).

        Read once per commit — the freshness is what detects a
        FOREIGN writer's compaction, so it cannot be cached on the
        instance. Cost is ONE small read (open-and-catch, no exists
        precheck — review r9) on the control-plane commit path. Any
        read failure returns 0, i.e. the guard degrades to
        best-effort rather than blocking commits (the same contract
        as the no-hardlink fallback; Py4JJavaError is the URI twin
        of the local branch's OSError — review r9)."""
        from py4j.protocol import Py4JJavaError
        try:
            return int(json.loads(self._get(self._checkpoint_path()))
                       ["commit"])
        except (FileNotFoundError, ValueError, KeyError, OSError,
                Py4JJavaError):
            return 0

    def _write_checkpoint(self, cid: int) -> None:
        """Overwrite-in-place is fine here: the content is monotonic
        (compactions only move forward) and a torn/lost write only
        widens the retained window — never loses data."""
        data = json.dumps({"commit": cid}).encode("utf-8")
        if self._uri:
            self._put(self._checkpoint_path(), data)
        else:
            tmp = self._checkpoint_path() + f".tmp-{uuid.uuid4().hex}"
            self._put(tmp, data)
            os.replace(tmp, self._checkpoint_path())

    def _read_current(self) -> Optional[dict]:
        """Highest PARSEABLE commit wins (or exactly ``self.at`` in
        time-travel mode) — a torn manifest write (crash mid-rename
        on an FS without atomic rename) falls back to the previous
        commit instead of wedging the catalog."""
        ids = self._list_commit_ids()
        if self.at is not None:
            ids = [c for c in ids if c == self.at]
        for cid in reversed(ids):
            m = self._read_manifest(cid)
            if m is not None:
                return m
        return None

    def _read_manifest(self, cid: int) -> Optional[dict]:
        """One manifest by commit id; None if torn/unreadable.

        Expected torn-write signatures — FileNotFoundError (listed
        then vanished) and ValueError/JSONDecodeError (truncated
        body) — fall back silently. Any OTHER IO failure (permission
        denied, network fault, Java-side read error via
        Py4JJavaError) still falls back to the previous commit so a
        transient fault can't wedge the catalog, but logs a warning
        naming the skipped commit first: attaching one commit stale
        because of EACCES must not be indistinguishable from a real
        torn manifest (ADVICE r8)."""
        from py4j.protocol import Py4JJavaError
        try:
            return json.loads(self._get(
                f"{self._commits_dir()}/{cid:012d}.json"))
        except (FileNotFoundError, ValueError):
            return None
        except (OSError, Py4JJavaError) as e:
            logging.getLogger(__name__).warning(
                "skipping commit %d at %s: unexpected read failure "
                "(%s: %s) — falling back to an earlier commit; the "
                "attached catalog may be stale", cid, self.root,
                type(e).__name__, str(e)[:200])
            return None

    def _write_manifest(self, manifest: dict) -> None:
        """Publish commit N by CREATING its numbered manifest — never
        overwriting. Creation is the optimistic-concurrency point
        (the Delta/Iceberg log protocol): if another writer already
        published N, this writer LOSES and raises CommitConflict with
        its segments unreferenced (garbage, never corruption).

        Guarantee scope (review r8): the create-if-absent is atomic
        on local filesystems (os.link) and HDFS-like stores (rename
        refuses an existing destination). Object-store connectors
        (s3a://, gs://) implement rename as non-atomic
        check+copy+delete — two racing writers there can both
        "succeed", the same known gap Delta-on-S3 closes with a
        coordinating LogStore; single-writer-per-root (the supported
        mode, DIVERGENCES §9) is unaffected — OR close it by
        installing the ``create_if_absent`` hook (see __init__)
        backed by the store's conditional PUT. Filesystems without
        hard links (CIFS/exFAT) fall back to exists-check +
        os.replace: durability keeps working, conflict detection
        narrows to the check window."""
        cid = manifest["commit"]
        ckpt = self._read_checkpoint()
        if cid <= ckpt:
            # a writer attached BEFORE the last compaction computing
            # a commit number whose manifest slot was retired: the
            # create-if-absent below would SUCCEED on the vacated
            # name and silently fork history. Same best-effort
            # window as the no-hardlink fallback (a compaction
            # landing between this read and the create is not
            # caught); single-writer-per-root remains the supported
            # mode (DIVERGENCES §9).
            raise CommitConflict(cid, self.root)
        dest = f"{self._commits_dir()}/{cid:012d}.json"
        data = json.dumps(manifest, sort_keys=True)
        if self._create_if_absent is not None:
            # pluggable conditional-create backend (see __init__):
            # the hook owns atomicity; False/FileExistsError = lost
            # the race. Directory creation stays here — object
            # stores have no directories and a local hook impl may
            # assume the layout exists.
            if not self._uri:
                os.makedirs(self._commits_dir(), exist_ok=True)
            try:
                created = self._create_if_absent(
                    dest, data.encode("utf-8"))
            except FileExistsError:
                raise CommitConflict(cid, self.root) from None
            if not created:
                raise CommitConflict(cid, self.root)
            self.manifest = manifest
            return
        # per-ATTEMPT tmp name: a per-PID name would be shared by two
        # stores in one process racing the same commit — writer A
        # could publish writer B's bytes (review r8)
        token = uuid.uuid4().hex
        if self._uri:
            fs, p = self._hadoop(dest)
            if fs.exists(p):
                raise CommitConflict(cid, self.root)
            tmp = dest + f".tmp-{token}"
            self._put(tmp, data.encode("utf-8"))
            tmp_p = self.spark._jvm.org.apache.hadoop.fs.Path(tmp)
            if not fs.rename(tmp_p, p):
                fs.delete(tmp_p, False)
                raise CommitConflict(cid, self.root)
        else:
            tmp = dest + f".tmp-{token}"
            self._put(tmp, data.encode("utf-8"))
            try:
                os.link(tmp, dest)   # atomic create-if-absent
            except FileExistsError:
                raise CommitConflict(cid, self.root) from None
            except OSError:
                # no hard-link support on this FS: degrade to a
                # check+replace (conflict window shrinks to the gap
                # between the two calls; durability itself keeps
                # working — review r8)
                if os.path.exists(dest):
                    raise CommitConflict(cid, self.root) from None
                os.replace(tmp, dest)
                self.manifest = manifest
                return
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
        self.manifest = manifest

    # ----------------------------------------------------------- commit
    def commit(self, ops: list[tuple]) -> None:
        """Persist one mutation's journal: ``ops`` is an ordered list
        of ("upsert"|"delete"|"snapshot", table, rows). Segments are
        written first (unreferenced until the manifest lands), then the
        manifest rename publishes them atomically-enough (see module
        docstring for the crash contract).

        ``rows`` is sized by the request or by a query, and that alone
        picks the writer (``_write_segment``):

        - a ``pyarrow.Table`` the request built on the driver (declared
          files, patched file rows, membership and edge adds, delete
          keys it names, a small table's snapshot) is written as it is:
          no Spark job;
        - a DataFrame of rows the request names (a file's edges or
          memberships, as delete keys) is collected with ``toArrow()``:
          one Spark job;
        - a ``QuerySized`` DataFrame goes through Spark's writer.

        The first two become one parquet file written with
        ``pyarrow.parquet``, through the same local or Hadoop I/O as
        the manifests."""
        if not ops:
            return
        if self.at is not None:
            # a time-travel view is read-only BY CONSTRUCTION — even
            # when at == latest, where the commit-number collision
            # that protects older views would not fire (review r8)
            raise CommitConflict(self.manifest["commit"] + 1,
                                 self.root)
        m = json.loads(json.dumps(self.manifest))     # deep copy
        m["commit"] += 1
        cid = m["commit"]
        # segment names carry a per-attempt token: two writers racing
        # the SAME commit number must never write the same segment
        # path, or the loser's mode("overwrite") replaces the
        # winner's data before the manifest race even resolves
        # (review r8 — caught by the single-winner test). The loser's
        # uniquely-named segments end up unreferenced garbage.
        attempt = uuid.uuid4().hex[:8]
        tables = m.setdefault("tables", {})
        for i, (kind, table, rows) in enumerate(ops):
            m["seq"] += 1
            rel = f"{table}/c{cid:08d}-{i}-{attempt}-{kind}"
            if kind == "snapshot":
                self._write_segment(rel, rows)
                if table in TABLE_KEYS:
                    # a journaled table's snapshot resets its log
                    tables[table] = {"snapshot": rel, "segments": []}
                else:
                    tables[table] = {"snapshot": rel}
                if table == "datasets":
                    # the snapshot carries the requirements column, so
                    # an older root's copy of them is no longer read
                    m.pop("dml_meta", None)
                continue
            if table not in TABLE_KEYS:
                raise ValueError(
                    f"{kind} journaling is only for {set(TABLE_KEYS)}; "
                    f"snapshot {table!r} instead")
            self._write_segment(rel, rows, TABLE_KEYS[table]
                                if kind == "delete" else None)
            entry = tables.setdefault(
                table, {"snapshot": None, "segments": []})
            entry["segments"].append(
                {"path": rel, "kind": kind, "seq": m["seq"]})
        self._write_manifest(m)

    def _write_segment(self, rel: str, rows,
                       keys: Optional[list] = None) -> None:
        """Write segment directory ``rel`` holding ``rows`` (only the
        ``keys`` columns, if given; see ``commit`` for the writers). A
        pyarrow-written segment is one file, without the variant column
        (``_replay`` derives it)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = f"{self.root}/{rel}"
        if isinstance(rows, QuerySized):
            df = rows.df if keys is None else rows.df.select(*keys)
            df.write.mode("overwrite").parquet(path)
            return
        frame = isinstance(rows, DataFrame)
        cols = keys or [c for c in (rows.columns if frame
                                    else rows.column_names)
                        if c != VARIANT_COLUMN]
        table = rows.select(*cols).toArrow() if frame else rows.select(cols)
        buf = pa.BufferOutputStream()
        # microsecond INT64 timestamps: Spark reads them as TimestampType
        # (a NANOS column would read as a long under nanosAsLong). Spark
        # reads the parquet types, so the footer skips the Arrow schema.
        pq.write_table(table, buf, coerce_timestamps="us",
                       store_schema=False)
        self._put(f"{path}/part-00000.parquet", buf.getvalue().to_pybytes())

    def _put(self, path: str, data: bytes) -> None:
        """Create (or overwrite) file ``path`` holding ``data``: plain
        file I/O under a local root, the Hadoop filesystem under a URI
        root. Segments, manifests and the checkpoint pointer all go
        through here."""
        if self._uri:
            fs, p = self._hadoop(path)
            out = fs.create(p, True)
            try:
                out.write(bytearray(data))
            finally:
                out.close()
        else:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(data)

    def _get(self, path: str) -> str:
        """The text of file ``path``, read as ``_put`` writes it: plain
        file I/O under a local root, the Hadoop filesystem under a URI
        root. Manifests and the checkpoint pointer are read here."""
        if self._uri:
            fs, p = self._hadoop(path)
            stream = fs.open(p)
            try:
                return self.spark._jvm.org.apache.commons.io \
                    .IOUtils.toString(stream, "UTF-8")
            finally:
                stream.close()
        with open(path) as f:
            return f.read()

    # ---------------------------------------------------------- restore
    def _replay(self, base: DataFrame, table: str,
                entry: dict) -> DataFrame:
        """``base`` (or the entry's snapshot) with the entry's journal
        segments applied. Each segment is read with the schema its
        writer used — the base's columns for upserts, the keys for
        deletes — so no read runs a job to infer it, and a column an
        older segment lacks reads as null. ``metadata_v`` is derived
        from ``metadata``, never read (older segments stored it)."""
        keys = TABLE_KEYS[table]
        if entry.get("snapshot"):
            base = self.spark.read.parquet(
                f"{self.root}/{entry['snapshot']}")
        segs = entry.get("segments") or []
        if not segs:
            return base
        cols = base.columns
        # an upsert holds its timestamps as TimestampType: the Arrow
        # delta a write appends widens a TIMESTAMP_NTZ column to it
        upsert = T.StructType([
            T.StructField(f.name, T.TimestampType())
            if isinstance(f.dataType, T.TimestampNTZType) else f
            for f in base.schema.fields if f.name != VARIANT_COLUMN])
        delete = T.StructType([base.schema[k] for k in keys])
        parts = []
        for s in segs:
            df = (self.spark.read
                  .schema(upsert if s["kind"] == "upsert" else delete)
                  .parquet(f"{self.root}/{s['path']}"))
            for c in cols:
                if c in df.columns:
                    continue
                if c == VARIANT_COLUMN and s["kind"] == "upsert":
                    df = df.withColumn(c, F.parse_json("metadata"))
                else:                         # delete segments: keys only
                    df = df.withColumn(c, _null_as(base.schema[c].dataType))
            parts.append(df.select(*cols)
                         .withColumn("_op", F.lit(s["kind"]))
                         .withColumn("_seq", F.lit(int(s["seq"]))))
        j = reduce(lambda a, b: a.unionByName(b), parts)
        w = Window.partitionBy(*keys).orderBy(F.desc("_seq"))
        latest = (j.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") == 1))
        return (base.join(latest.select(*keys), keys, "left_anti")
                .unionByName(latest.where(F.col("_op") == "upsert")
                             .select(*cols)))

    def _exists(self, rel: str) -> bool:
        if self._uri:
            fs, p = self._hadoop(f"{self.root}/{rel}")
            return fs.exists(p)
        return os.path.exists(f"{self.root}/{rel}")

    def attach(self, catalog) -> None:
        """Overlay the committed state onto a freshly built catalog
        (fixtures/warehouse base): journaled tables get base+journal
        reconstruction and are made resident and computed, laid out on
        their file-id keys again; snapshot tables are replaced outright
        by a local relation of their rows, collected here. The restored tables
        publish as one catalog version numbered by the manifest's
        commit. A ``datasets`` snapshot without the requirements column
        (an older root) gets it from the manifest's ``dml_meta``.

        Time-travel attaches preflight-check that every referenced
        data directory still exists: ``compact()`` deletes superseded
        segments (like Delta VACUUM), so history reaches back only to
        the last compaction — a clear error beats a mid-query
        PATH_NOT_FOUND (review r8)."""
        if self.at is not None:
            missing = [
                rel for e in (self.manifest.get("tables")
                              or {}).values()
                for rel in ([e["snapshot"]] if e.get("snapshot")
                            else [])
                + [s["path"] for s in (e.get("segments") or [])]
                if not self._exists(rel)]
            if missing:
                raise ValueError(
                    f"commit {self.at}'s data was removed by a later "
                    f"compact (missing: {missing[:3]}); time travel "
                    f"reaches back only to the last compaction")
        tables = {}
        for table, entry in (self.manifest.get("tables") or {}).items():
            if table in TABLE_KEYS:
                new = self._replay(getattr(catalog, table), table, entry)
            else:
                new = self.spark.read.parquet(
                    f"{self.root}/{entry['snapshot']}")
            if table == "datasets":
                # a root written before datasets carried the column
                # kept the requirements in the manifest's dml_meta
                new = with_requirements(new, (
                    self.manifest.get("dml_meta") or {}).get(
                        "dataset_requirements"))
            if table in TABLE_KEYS:
                # resident and computed now: the journal window runs
                # once, here, and no streamed read keeps its lineage
                tables[table] = catalog.resident(table, new, eager=True)
            else:
                # a small table is held on the driver, as DML writes it
                tables[table] = self.spark.createDataFrame(new.toArrow())
        # a restored files table has ids_unique unknown: journal upserts
        # can't be proven duplicate-free here, so the engine's
        # set-algebra fast path re-probes on first use
        catalog.publish(version=self.manifest["commit"], **tables)

    def history(self) -> list[dict]:
        """One row per parseable commit (oldest first): the commit
        id, per-table segment counts, and whether each table is
        snapshot-backed at that commit — the `admin log` view. ONE
        directory listing + one manifest read per commit (no
        per-commit re-listing, no shared-state mutation — review r8);
        no Spark jobs."""
        out = []
        for cid in self._list_commit_ids():
            m = self._read_manifest(cid)
            if m is None:
                continue
            out.append({
                "commit": cid,
                "tables": {
                    t: {"segments": len(e.get("segments") or []),
                        "snapshot": bool(e.get("snapshot"))}
                    for t, e in (m.get("tables") or {}).items()},
            })
        return out

    # --------------------------------------------------------- compact
    def compact(self, catalog) -> None:
        """Fold base+journal into fresh full snapshots and truncate the
        log: restore cost returns to a plain parquet scan and the
        merge-on-read overlay disappears until the next mutation. Runs
        as ordinary Spark writes (O(catalog), on-demand — the Delta
        OPTIMIZE equivalent). Afterwards (VERDICT r8 #4): writes the
        ``_last_checkpoint`` pointer, RETIRES manifests older than
        the compaction (history/time travel already reach back only
        this far — those manifests were dead weight, and retiring
        them keeps the _commits listing O(commits-since-compact)),
        then removes superseded segment directories. All three are
        best-effort: a failure leaves garbage that is never read (or
        a slightly wider retained window), not corruption."""
        old = [s["path"]
               for e in (self.manifest.get("tables") or {}).values()
               for s in (e.get("segments") or [])] + \
              [e["snapshot"]
               for e in (self.manifest.get("tables") or {}).values()
               if e.get("snapshot")]
        ops = [("snapshot", t, QuerySized(getattr(catalog, t)))
               for t in self.manifest.get("tables") or {}]
        if not ops:
            return
        self.commit(ops)
        # re-point the live catalog at the new snapshots BEFORE
        # deleting the old segment dirs — the pre-compact DataFrames
        # may still plan over them (localCheckpoint blocks are not
        # recomputable if evicted)
        self.attach(catalog)
        ckpt = self.manifest["commit"]
        self._write_checkpoint(ckpt)
        for cid in self._list_commit_ids():
            if cid >= ckpt:
                continue
            try:
                path = f"{self._commits_dir()}/{cid:012d}.json"
                if self._uri:
                    fs, p = self._hadoop(path)
                    fs.delete(p, False)
                else:
                    os.unlink(path)
            except Exception:
                pass
        for rel in old:
            try:
                if self._uri:
                    fs, p = self._hadoop(f"{self.root}/{rel}")
                    fs.delete(p, True)
                else:
                    import shutil
                    shutil.rmtree(f"{self.root}/{rel}",
                                  ignore_errors=True)
            except Exception:
                pass


def open_store(spark: SparkSession, root: str) -> DurableStore:
    return DurableStore(spark, root)
