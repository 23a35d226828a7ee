"""DML / catalog operations (SURVEY.md §2.10).

The reference's write surface (webapi.py:429-1123,
data_handler.py:631-1263) re-expressed over the Catalog's DataFrames:
declare/update/retire files, dataset create + membership with
metadata-requirement validation and frozen/monotonic enforcement
(data_handler.py:424-548), and the query sinks save_as/add_to
(data_handler.py:1306-1370).

Mutations stage NEW DataFrames on a draft of the Catalog's state,
published once per mutation (``Catalog.write``), so a request never
sees half of one. With a ``durable.DurableStore`` (r8), every mutation
ALSO appends its row-level delta to a parquet commit log, so writes
survive a restart like the reference's PostgreSQL rows do — see
durable.py for the log model and docs/DIVERGENCES.md §9 for the
contract. Bulk declare is a single DataFrame union (the
COPY-equivalent, dbobjects2.py:525-557), never a row-at-a-time loop.

The file-keyed tables (``files``, ``files_datasets``,
``parent_child``) are resident on the executors. A request's own rows
(declared files, membership and edge adds) are built on the driver as
one Arrow table, appended to the target table as a local relation
(``Catalog.append``) and journaled as that same table; query results
(``add_to``/``save_as``) stay distributed. A point write (update,
retire, move, ``update_file``) is the reference's row-level UPDATE: it
reads its target rows once, patches them on the driver and appends
them in place of the old ones (``append``'s ``drop``), so its one
Spark job besides the read computes the new table version and its
commit runs none. Filters of a table keep its layout
(``Catalog.resident``): no write moves the rows it did not add.

The small tables (datasets, their subset edges, namespaces, named
queries, parameter categories) are held on the driver: every version
of one is a local relation. A write to one collects the rows
(``_rows``), changes them in Python and stages and journals the new
rows as one Arrow table (``_snapshot``), so neither the write, its
commit nor a later read of the table runs a Spark job.
"""

from __future__ import annotations

import json
import weakref
from datetime import datetime, timezone
from typing import TYPE_CHECKING, Optional

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import Catalog, arrow_rows
from .durable import VARIANT_COLUMN, QuerySized
from .schema import MetaSchema
from .validation import (DEFAULT_CATEGORIES, category_of,
                         validate_metadata)

if TYPE_CHECKING:
    import pyarrow as pa


_EDGE_COLUMNS = ("parent_id", "child_id")
_MEMBER_COLUMNS = ("file_id", "dataset_namespace", "dataset_name")


class DMLError(Exception):
    pass


def _shred(schema: MetaSchema, meta: dict) -> dict:
    """The metadata columns of a row holding ``meta``: the JSON and
    every shredded column (the predicate compiler reads shredded keys
    first, so a stale one would answer wrong). An absent key is null,
    and an int in a float column a float. A key whose column a table
    lacks lives in the JSON only."""
    cols = {schema.json_column: json.dumps(meta)}
    for mk in schema.by_key.values():
        v = meta.get(mk.key)
        if v is not None and mk.mtype == "float" and isinstance(v, int):
            v = float(v)
        cols[mk.column] = v
    return cols


def _arrow(table: DataFrame, rows: list) -> pa.Table:
    """Row dicts as an Arrow table of ``table``'s columns (a variant
    catalog's ``metadata_v`` left out); a column a row lacks is null."""
    schema = T.StructType([f for f in table.schema.fields
                           if f.name != VARIANT_COLUMN])
    return arrow_rows([tuple(r.get(c) for c in schema.names)
                       for r in rows], schema)


def _read(table: DataFrame, hit) -> list:
    """``table``'s rows matching ``hit`` as dicts, in one Spark job:
    every column but a variant catalog's ``metadata_v`` (``_arrow``
    writes the rows back)."""
    return (table.where(hit)
            .select(*[c for c in table.columns if c != VARIANT_COLUMN])
            .toArrow().to_pylist())


def _merged(stored: Optional[str], patch: dict, replace: bool) -> dict:
    """The metadata after ``patch``: the patch itself in replace mode,
    else the stored JSON dict updated with it — the reference's
    ``meta.update(patch)`` (data_handler.py:1186), type-preserving."""
    if replace:
        return dict(patch)
    return {**json.loads(stored or "{}"), **patch}


def point_row(df: DataFrame) -> Optional[Row]:
    """The row of a key-filtered ``df`` holding at most one, in one
    Spark job: ``first()`` is ``take(1)``, which scans partitions in
    growing rounds, so a hit past the first partition costs more jobs."""
    rows = df.collect()
    return rows[0] if rows else None


class ValidationFailed(DMLError):
    def __init__(self, errors):
        super().__init__(f"metadata validation failed: {errors}")
        self.errors = errors


class AlreadyExists(DMLError):
    """Reference PK violation equivalent (files.id / datasets PKs,
    schema.sql:45-120): redeclaring an existing object is an error, not
    an upsert."""
    pass


# parsed rules per parameter_categories table object; a table never
# changes, so each is collected once however many writes read it
_RULES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _rules(table: Optional[DataFrame]) -> dict:
    """The validation rules of a parameter_categories table (reference
    schema.sql:162-176), not a hard-coded dict — a deployment declares
    its own categories as catalog state. The table is tiny (one row per
    category); a driver collect is the right plan. None (a catalog
    without the table) = DEFAULT_CATEGORIES."""
    if table is None:
        return DEFAULT_CATEGORIES
    rules = _RULES.get(table)
    if rules is None:
        rules = _RULES[table] = {
            r["path"]: {"restricted": bool(r["restricted"]),
                        "definitions": json.loads(r["definitions"] or "{}")}
            for r in table.collect()}
    return rules


def _locked(fn):
    """Run a mutator as one ``Catalog.write`` block: writers on the
    catalog are serialized (every mutator is a read-modify-write of
    catalog tables — two concurrent declares would silently drop one
    thread's rows otherwise, review r6), the mutator reads and stages
    tables on one draft, and the outermost exit publishes it as one
    catalog version. Composite mutations nest (declare_files →
    add_files_to_dataset) and share the outer draft.

    Durable mode (r8): the wrapper is also the commit boundary —
    journal ops buffered by the mutator (and any nested mutators)
    flush as ONE DurableStore commit when the OUTERMOST mutation
    returns. A raising mutation ALSO flushes whatever it buffered:
    the journaling invariant is "op buffered ⇒ its session mutation
    is already applied" (every _journal call sits directly after the
    stage it records), so flushing keeps the commit log equal to session
    state even when a composite mutator fails partway (review r8 —
    the original discard-on-raise policy silently diverged: the
    session kept the partial mutation while the log lost it, and a
    restart rolled it back). Mutators still check-then-mutate, so a
    mutation that fails validation journals nothing at all."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *a, **k):
        with self.cat.write() as outermost:
            if not outermost:
                return fn(self, *a, **k)
            try:
                out = fn(self, *a, **k)
            except BaseException:
                try:
                    self._flush()    # keep log == session state
                except Exception:
                    # an additional commit failure must not mask the
                    # mutation's own exception; the log is now behind
                    # the session by this one partial mutation (the
                    # same window as any commit-write failure —
                    # docs/DIVERGENCES.md §9's write-behind contract)
                    pass
                raise
            self._flush()            # commit failures surface here
            return out
    return wrapper


class DML:
    def __init__(self, catalog: Catalog, store=None):
        """``store``: a durable.DurableStore (or None for the default
        session-state mode). With a store, every mutation also appends
        its delta to the store's commit log — see durable.py for the
        persistence model and docs/DIVERGENCES.md for the contract.
        The store does NOT attach committed state to the catalog here;
        call store.attach(catalog) before constructing the DML when
        restoring (client/CLI/server do). A DML holds no catalog state:
        every rule a write enforces (validation categories, dataset
        flags and requirements) is read from the state it drafts on."""
        self._store = store
        self._pending: list = []
        self.cat = catalog

    def _journal(self, kind: str, table: str, rows) -> None:
        """Buffer one journal op (no-op without a store); flushed as a
        single durable commit by the outermost @_locked exit. ``rows``
        is a payload ``DurableStore.commit`` takes: the request's Arrow
        table, a DataFrame of the rows it names, or a ``QuerySized``
        DataFrame. A DataFrame is not collected here: the commit does
        that, so a failure re-buffers the op (``_flush``) and every
        buffered op's mutation is applied."""
        if self._store is not None:
            self._pending.append((kind, table, rows))

    def _flush(self) -> None:
        """Commit the buffered journal ops as ONE durable commit."""
        if not self._pending:
            return
        ops, self._pending = self._pending, []
        try:
            self._store.commit(ops)
        except BaseException as e:
            # re-buffer so a LATER successful mutation's flush carries
            # these ops — without this the session keeps the mutation
            # but the log loses it permanently (a retry then hits
            # AlreadyExists while the log stays behind until restart;
            # ADVICE r8)
            self._pending = ops + self._pending
            if hasattr(e, "add_note"):
                e.add_note("durable commit failed; the ops are "
                           "re-buffered and will flush with the next "
                           "successful mutation — or re-attach the "
                           "catalog to roll the session back to the "
                           "last commit")
            raise

    def _dataset(self, ns: str, name: str) -> Optional[Row]:
        """The dataset's (frozen, monotonic, file_metadata_requirements)
        policy; None if it does not exist. One probe both checks
        existence and reads policy."""
        return point_row(self.cat.datasets.where(
            (F.col("namespace") == ns) & (F.col("name") == name))
            .select("frozen", "monotonic", "file_metadata_requirements"))

    def _check_writable(self, ns: str, name: str) -> Optional[dict]:
        """Raise unless the dataset exists and is not frozen; return the
        metadata requirements its files must satisfy (None if none)."""
        ds = self._dataset(ns, name)
        if ds is None:
            raise DMLError(f"dataset {ns}:{name} not found")
        if ds["frozen"]:
            raise DMLError(f"dataset {ns}:{name} is frozen")
        reqs = ds["file_metadata_requirements"]
        return json.loads(reqs) if reqs else None

    def _local(self, rows: pa.Table) -> DataFrame:
        """A request's rows as one single-partition local relation."""
        return self.cat.spark.createDataFrame(rows).coalesce(1)

    def _rows(self, name: str) -> list:
        """Small table ``name``'s rows as dicts, collected on the driver
        (no Spark job over a local relation). ``collect`` gives a
        ``TimestampType`` value as a naive local-time datetime, which
        ``arrow_rows`` would read as UTC, so each is made UTC-aware;
        ``TimestampNTZType`` values are wall-clock times and stay naive."""
        table = getattr(self.cat, name)
        stamps = [f.name for f in table.schema.fields
                  if isinstance(f.dataType, T.TimestampType)]
        rows = [r.asDict() for r in table.collect()]
        for r in rows:
            for c in stamps:
                if r[c] is not None:
                    r[c] = r[c].astimezone(timezone.utc)
        return rows

    def _snapshot(self, name: str, rows: list) -> None:
        """Replace small table ``name`` with ``rows`` (dicts): staged as
        a local relation built on the driver and journaled as the same
        Arrow table, so neither the write nor its commit runs a Spark
        job and every later read of the table runs none either."""
        table = _arrow(getattr(self.cat, name), rows)
        self.cat.stage(**{name: self.cat.spark.createDataFrame(table)})
        self._journal("snapshot", name, table)

    def _append(self, name: str, rows: pa.Table,
                drop: Optional[F.Column] = None) -> None:
        """Add a request's ``rows`` to journaled table ``name`` and
        journal the same Arrow table as an upsert, so its commit runs no
        Spark job. ``drop``: the table's rows that ``rows`` replace (a
        point write); the new version is then computed now, the one job
        the write runs besides reading its rows. A variant catalog's
        files get ``metadata_v`` from ``metadata`` here, as the journal
        does on replay. Only declare_files adds file ids, after
        enforcing the PK, so the ids_unique invariant carries over."""
        delta = self._local(rows)
        if name == "files" and VARIANT_COLUMN in self.cat.files.columns:
            delta = (delta.withColumn(VARIANT_COLUMN,
                                      F.parse_json(F.col("metadata")))
                     .select(*self.cat.files.columns))
        self.cat.stage(**{name: self.cat.append(
            name, delta, drop=drop, eager=drop is not None)})
        self._journal("upsert", name, rows)

    def _put_files(self, rows: list) -> None:
        """Put patched file ``rows`` (dicts, as ``_read`` gives them) in
        place of the files with their ids."""
        self._append("files", _arrow(self.cat.files, rows),
                     drop=F.col("id").isin([r["id"] for r in rows]))

    def _restage(self, **tables: DataFrame) -> None:
        """Stage filtered versions of the current file-keyed tables,
        resident; a laid-out table keeps its layout without moving a
        row (``Catalog.resident``)."""
        self.cat.stage(**{name: self.cat.resident(name, df, derived=True)
                          for name, df in tables.items()})

    def _new_edges(self, pc: DataFrame, edges: list) -> list:
        """The (parent_id, child_id) ``edges`` not yet in ``pc``, in
        request order without repeats: one pruned probe of the requested
        children (the PK makes a re-added edge a no-op)."""
        edges = list(dict.fromkeys(edges))
        if not edges:
            return []
        have = {tuple(r) for r in pc
                .where(F.col("child_id").isin(sorted({c for _, c in edges})))
                .select(*_EDGE_COLUMNS).collect()}
        return [e for e in edges if e not in have]

    # ------------------------------------------------------- validation
    def validate(self, metadata: dict,
                 extra_requirements: Optional[dict] = None,
                 merged: Optional[dict] = None) -> None:
        """Check ``metadata`` against the parameter categories of the
        state this call reads (a writer's draft, a request's pin, else
        the published state), then against ``extra_requirements``.
        ``merged``: the whole metadata ``metadata`` patches into; a
        category the patch touches must have its required keys there."""
        merged = metadata if merged is None else merged
        categories = _rules(self.cat.parameter_categories)
        errors = []
        for key in metadata:
            cat = category_of(key)
            spec = categories.get(cat)
            if spec is None:
                continue  # uncategorized keys are unrestricted
            errs = validate_metadata(spec["definitions"],
                                     spec.get("restricted", False),
                                     {key: metadata[key]})
            errors.extend(e for e in errs
                          if e[1] != "required parameter is missing")
        # category-level required keys
        for cat, spec in categories.items():
            for key, d in spec["definitions"].items():
                if d.get("required") and any(
                        k.startswith(cat + ".") for k in metadata) \
                        and key not in merged:
                    errors.append((key, "required parameter is missing"))
        if extra_requirements:
            errors.extend(validate_metadata(extra_requirements, False,
                                            metadata))
        if errors:
            raise ValidationFailed(errors)

    # ---------------------------------------------------------- declare
    @_locked
    def declare_files(self, rows: list[dict],
                      dataset: Optional[tuple[str, str]] = None) -> int:
        """Bulk declare (dbobjects2.py:525-557): validate each file's
        metadata in the driver, then append as ONE union (+ membership
        rows if a target dataset is given)."""
        if not rows:
            return 0
        # reference PK on files.id rejects redeclares (schema.sql:45-63)
        ids = [r["id"] for r in rows]
        if len(set(ids)) != len(ids):
            raise AlreadyExists("duplicate file ids in declare batch")
        dup = [r["id"] for r in self.cat.files
               .where(F.col("id").isin(ids)).select("id").collect()]
        if dup:
            raise AlreadyExists(f"file id(s) already declared: "
                                f"{sorted(dup)[:5]}")
        reqs = None
        if dataset is not None:
            # target-dataset checks BEFORE any mutation: declaring
            # into a missing/frozen dataset must fail atomically, not
            # after the file rows and edges were already appended
            # (review r6)
            reqs = self._check_writable(*dataset)
        # parent-id FK check BEFORE any mutation (review r8): the
        # old post-append check left the appended file rows in
        # session state when a parent was missing. Intra-batch
        # references resolve against the batch ids themselves.
        out_of_batch = sorted({p for r in rows
                               for p in (r.get("parents") or [])}
                              - set(ids))
        self._check_fids_exist(out_of_batch, "parent")
        files = self.cat.files
        # the reference schema defaults created_timestamp to now()
        # (schema.sql files table): one driver timestamp per batch, so
        # the appended rows and their journal segment agree by
        # construction; NULL would drop every newly declared file from
        # created_timestamp predicates
        now = datetime.now(timezone.utc)
        prepared = []
        for r in rows:
            meta = r.get("metadata", {})
            self.validate(meta, reqs)
            prepared.append(dict(
                id=r["id"], namespace=r["namespace"], name=r["name"],
                size=int(r.get("size", 0)),
                creator=r.get("creator", "unknown"),
                created_timestamp=now, retired=False,
                checksums=({k: str(v) for k, v
                            in r["checksums"].items()}
                           if r.get("checksums") else None),
                **_shred(self.cat.file_meta, meta)))
        self._append("files", _arrow(files, prepared))
        # provenance edges declared inline (data_handler declare
        # accepts parents per file), FK-checked above
        edges = self._new_edges(self.cat.parent_child,
                                [(p, r["id"]) for r in rows
                                 for p in (r.get("parents") or [])])
        if edges:
            self._append("parent_child", arrow_rows(
                edges, self.cat.parent_child.select(*_EDGE_COLUMNS).schema))
        if dataset:
            self.add_files_to_dataset([r["id"] for r in rows], *dataset,
                                      _skip_exist_check=True)
        return len(prepared)

    # --------------------------------------------------------- membership
    @_locked
    def add_files_to_dataset(self, file_ids: list[str], ns: str,
                             name: str,
                             _skip_exist_check: bool = False) -> int:
        """Membership append with frozen enforcement
        (data_handler.py:424-548). Monotonic datasets accept adds but
        refuse removals. declare_files, which checked the dataset
        itself, skips the existence checks."""
        want = list(dict.fromkeys(file_ids))
        if not _skip_exist_check:
            # dataset and file ids must exist (FK semantics,
            # schema.sql:96-104)
            reqs = self._check_writable(ns, name)
            found = {r["id"]: r for r in self.cat.files
                     .where(F.col("id").isin(want))
                     .select("id", *(["metadata"] if reqs else []))
                     .collect()}
            missing = set(want) - set(found)
            if missing:
                raise DMLError(f"file id(s) not found: "
                               f"{sorted(missing)[:5]}")
            if reqs:
                # dataset-level metadata requirements
                # (dbobjects2.py:1577-1597): every file joining the
                # dataset must satisfy them. The declare path
                # validates per-row before the append and skips this.
                errs = []
                for fid in sorted(want):
                    errs.extend(
                        (f"{fid}:{k}", msg) for k, msg in
                        validate_metadata(reqs, False, json.loads(
                            found[fid]["metadata"] or "{}")))
                if errs:
                    raise ValidationFailed(errs)
        # PK (file_id, dataset) — adding an already-member file is a
        # no-op: one pruned probe of the requested ids, the rest of the
        # batch is decided on the driver
        fd = self.cat.files_datasets
        members = {r["file_id"] for r in fd.where(
            (F.col("dataset_namespace") == ns)
            & (F.col("dataset_name") == name)
            & F.col("file_id").isin(want)).select("file_id").collect()}
        add = [(fid, ns, name) for fid in want if fid not in members]
        if add:
            self._append("files_datasets", arrow_rows(
                add, fd.select(*_MEMBER_COLUMNS).schema))
        return len(add)

    @_locked
    def remove_files_from_dataset(self, file_ids: list[str], ns: str,
                                  name: str) -> None:
        frozen, monotonic, _ = self._dataset(ns, name) or (False,) * 3
        if frozen:
            raise DMLError(f"dataset {ns}:{name} is frozen")
        if monotonic:
            raise DMLError(f"dataset {ns}:{name} is monotonic; "
                           f"files cannot be removed")
        if not file_ids:
            # empty request: a no-op (like isin([]) was), AFTER the
            # frozen/monotonic policy checks — createDataFrame([])
            # can't infer a schema and would 500 the server's
            # remove_files with an empty body (review r8)
            return
        fd = self.cat.files_datasets
        self._restage(files_datasets=fd.where(~(
            (F.col("dataset_namespace") == ns)
            & (F.col("dataset_name") == name)
            & F.col("file_id").isin(file_ids))))
        if self._store is not None:
            # delete keys enumerate from the request itself (never a
            # table scan); non-member keys journal harmless no-ops.
            # Built only in durable mode — _journal's args evaluate
            # eagerly (review r8)
            self._journal("delete", "files_datasets", arrow_rows(
                [(fid, ns, name) for fid in dict.fromkeys(file_ids)],
                fd.select(*_MEMBER_COLUMNS).schema))

    # ------------------------------------------------------------ update
    @_locked
    def update_file_metadata(self, file_id: str, metadata: dict,
                             mode: str = "update") -> None:
        """update = merge keys; replace = overwrite dict
        (webapi.py:1088-1123 modes).

        The merge is a driver-side Python dict update on the target row's
        JSON — exactly the reference's semantics (data_handler.py:1186:
        ``meta.update(patch)``) and type-preserving, unlike a
        map<string,string> round-trip which would stringify every value.
        A point update is inherently a single-row op; with id-bucketed
        storage the lookup prunes to one bucket. Each patched value is
        validated, and a category the patch touches must keep its
        required keys in the merged metadata (a merge that leaves
        ``core.run`` as stored is valid; a replace must carry it).
        """
        if mode not in ("update", "replace"):
            raise DMLError(f"bad mode {mode!r}")
        row = self._file_row(file_id)
        new_meta = _merged(row["metadata"], metadata, mode == "replace")
        self.validate(metadata, merged=new_meta)
        row.update(_shred(self.cat.file_meta, new_meta))
        self._put_files([row])

    def _file_row(self, file_id: str) -> dict:
        """File ``file_id``'s row (see ``_read``); DMLError if absent
        (the reference 404s on an unknown fid, in replace mode too — a
        silent zero-row patch is not a success, review r6)."""
        rows = _read(self.cat.files, F.col("id") == file_id)
        if not rows:
            raise DMLError(f"file {file_id!r} not found")
        return rows[0]

    def _check_fids_exist(self, fids: list[str], what: str) -> None:
        if not fids:
            return
        found = {r["id"] for r in self.cat.files
                 .where(F.col("id").isin(fids)).select("id").collect()}
        missing = sorted(set(fids) - found)
        if missing:
            raise DMLError(f"{what} file id(s) not found: {missing[:5]}")

    def _set_edges(self, file_id: str, other_ids: list[str],
                   as_parents: bool, replace: bool) -> None:
        """Add (or replace) provenance edges touching ``file_id``; an
        edge already present is not added again, like the PK. The
        caller has checked that every referenced id exists (FK
        semantics, schema.sql:67-73 REFERENCES files(id))."""
        pc = self.cat.parent_child
        me = "child_id" if as_parents else "parent_id"
        if replace:
            self._restage(parent_child=pc.where(F.col(me) != file_id))
            # journal AFTER staging — the flush-on-exception
            # contract requires "op buffered ⇒ mutation applied".
            # The delete keys enumerate distributed from the pre-filter
            # edge table (a point lookup, no driver rows); delete seq <
            # upsert seq, so a replaced-and-re-added edge lands present.
            self._journal("delete", "parent_child",
                          pc.where(F.col(me) == file_id)
                          .select(*_EDGE_COLUMNS))
        edges = self._new_edges(
            self.cat.parent_child,
            [(o, file_id) if as_parents else (file_id, o)
             for o in other_ids])
        if edges:
            self._append("parent_child",
                         arrow_rows(edges, pc.select(*_EDGE_COLUMNS).schema))

    @_locked
    def update_file(self, file_id: str,
                    size: Optional[int] = None,
                    checksums: Optional[dict] = None,
                    metadata: Optional[dict] = None,
                    parents: Optional[list[str]] = None,
                    children: Optional[list[str]] = None,
                    replace: bool = False,
                    by: str = "admin") -> None:
        """Update file attributes (ui/metacat_file.py:524-618,
        data_handler.py update_file): size, checksums (merge, or
        replace with ``replace=True``), metadata (merged or replaced
        and validated as update_file_metadata does, from the same one
        row read), and provenance edges (add, or replace —
        ``parents=[]`` with replace removes all). Point update: one
        bucketed-row patch; checksum merge is driver-side on the one
        target row, preserving the reference's dict-update semantics.
        The file's row is read once and written once."""
        row = self._file_row(file_id)
        # ALL validations before ANY patch (review r8): a metadata
        # validation error or missing edge id after the size/checksum
        # patch had already applied would leave a partial mutation
        if metadata is not None:
            new_meta = _merged(row["metadata"], metadata, replace)
            self.validate(metadata, merged=new_meta)
        if parents is not None:
            self._check_fids_exist(parents, "parent")
        if children is not None:
            self._check_fids_exist(children, "child")
        if size is not None:
            row["size"] = int(size)
        if checksums is not None:
            merged = {} if replace else dict(row["checksums"] or {})
            merged.update({k: str(v) for k, v in checksums.items()})
            row["checksums"] = merged or None
        if size is not None or checksums is not None:
            row.update(updated_by=by,
                       updated_timestamp=datetime.now(timezone.utc))
        if metadata is not None:
            row.update(_shred(self.cat.file_meta, new_meta))
        if any(v is not None for v in (size, checksums, metadata)):
            self._put_files([row])
        if parents is not None:
            self._set_edges(file_id, parents, as_parents=True,
                            replace=replace)
        if children is not None:
            self._set_edges(file_id, children, as_parents=False,
                            replace=replace)

    @_locked
    def retire_file(self, file_id: str, by: str = "admin",
                    unretire: bool = False) -> None:
        """Retire = soft delete (schema.sql:61-63; handler
        data_handler.py:1084-1140). ``unretire=True`` is the
        reference's `metacat file retire -u` (clears the flag and the
        retire audit columns)."""
        row = self._file_row(file_id)
        row.update(retired=not unretire,
                   retired_by=None if unretire else by,
                   retired_timestamp=(None if unretire
                                      else datetime.now(timezone.utc)))
        self._put_files([row])

    @_locked
    def delete_file(self, fid: Optional[str] = None,
                    namespace: Optional[str] = None,
                    name: Optional[str] = None) -> str:
        """Hard delete (data_handler.py:1010-1042 `f.delete()`), unlike
        retire's soft delete: the file row, its membership rows, and
        every provenance edge touching it go away (the reference's FK
        ON DELETE CASCADE, schema.sql:67-83). Returns the deleted fid.
        Point delete: one bucketed-row hit per table."""
        files = self.cat.files
        if fid is not None:
            hit = F.col("id") == fid
        elif namespace is not None and name is not None:
            hit = ((F.col("namespace") == namespace)
                   & (F.col("name") == name))
        else:
            raise DMLError("need fid or namespace+name")
        row = point_row(files.where(hit).select("id"))
        if row is None:
            raise DMLError("file not found")
        fid = row["id"]
        fd_before = self.cat.files_datasets
        pc_before = self.cat.parent_child
        self._restage(
            files=files.where(F.col("id") != fid),
            files_datasets=fd_before.where(F.col("file_id") != fid),
            parent_child=pc_before.where(
                (F.col("parent_id") != fid)
                & (F.col("child_id") != fid)))
        if self._store is not None:
            # cascade deletes journal the affected KEYS, enumerated
            # distributed from the pre-delete tables (point lookups)
            self._journal("delete", "files", arrow_rows(
                [(fid,)], files.select("id").schema))
            self._journal("delete", "files_datasets",
                          fd_before.where(F.col("file_id") == fid)
                          .select(*_MEMBER_COLUMNS))
            self._journal("delete", "parent_child",
                          pc_before.where((F.col("parent_id") == fid)
                                          | (F.col("child_id") == fid))
                          .select(*_EDGE_COLUMNS))
        return fid

    @_locked
    def move_files(self, file_ids: list[str], to_namespace: str,
                   by: str = "admin") -> None:
        """Move files across namespaces (dbobjects2.py:706-736): the
        namespace column changes; the file id (and thus provenance and
        membership, which key on id) is untouched."""
        want = list(dict.fromkeys(file_ids))
        if not want:
            return
        rows = _read(self.cat.files, F.col("id").isin(want))
        missing = sorted(set(want) - {r["id"] for r in rows})
        if missing:
            raise DMLError(f"move file id(s) not found: {missing[:5]}")
        now = datetime.now(timezone.utc)
        for r in rows:
            r.update(namespace=to_namespace, updated_by=by,
                     updated_timestamp=now)
        self._put_files(rows)

    @_locked
    def update_dataset(self, ns: str, name: str,
                       metadata: Optional[dict] = None,
                       mode: str = "update",
                       frozen: Optional[bool] = None,
                       monotonic: Optional[bool] = None,
                       description: Optional[str] = None) -> None:
        """Dataset updates incl. metadata update/replace modes
        (webapi.py:429-472) and flag toggles."""
        rows = self._rows("datasets")
        hit = [r for r in rows if (r["namespace"], r["name"]) == (ns, name)]
        if not hit:
            # flag/metadata updates on a missing dataset must 404, not
            # no-op (review r6)
            raise DMLError(f"dataset {ns}:{name} not found")
        if metadata is not None and mode not in ("update", "replace"):
            raise DMLError(f"bad mode {mode!r}")
        for r in hit:
            if metadata is not None:
                r.update(_shred(self.cat.dataset_meta, _merged(
                    r["metadata"], metadata, mode == "replace")))
            for colname, val in (("frozen", frozen),
                                 ("monotonic", monotonic),
                                 ("description", description)):
                if val is not None:
                    r[colname] = val
        self._snapshot("datasets", rows)

    @_locked
    def create_dataset(self, ns: str, name: str, description: str = "",
                       frozen: bool = False, monotonic: bool = False,
                       metadata: Optional[dict] = None,
                       creator: str = "admin",
                       file_meta_requirements: Optional[dict] = None
                       ) -> None:
        """Create an empty dataset (webapi.py:380-427; the reference's
        `metacat dataset create`). PK (namespace, name) — duplicates
        are an error, not an upsert."""
        # dataset metadata is uncategorized (dotless keys in the
        # reference fixture) — file-category validation doesn't apply
        self._new_dataset(ns, name, metadata or {}, dict(
            frozen=frozen, monotonic=monotonic, creator=creator,
            description=description,
            # enforced on add_files_to_dataset / declare-into-dataset
            file_metadata_requirements=(json.dumps(file_meta_requirements)
                                        if file_meta_requirements
                                        else None)))

    def _new_dataset(self, ns: str, name: str, metadata: dict,
                     row: dict) -> None:
        """Add dataset ``ns:name`` with the columns in ``row`` and
        ``metadata`` shredded as ``update_dataset`` shreds it, created
        now; AlreadyExists if the catalog has it (the (namespace, name)
        PK)."""
        rows = self._rows("datasets")
        if any((r["namespace"], r["name"]) == (ns, name) for r in rows):
            raise AlreadyExists(f"dataset {ns}:{name} already exists")
        self._snapshot("datasets", rows + [dict(
            row, **_shred(self.cat.dataset_meta, metadata), namespace=ns,
            name=name, created_timestamp=datetime.now(timezone.utc))])

    @_locked
    def remove_dataset(self, ns: str, name: str) -> None:
        """Delete a dataset, its membership rows, and its subset edges
        (data_handler.py 'remove dataset'; FK cascade equivalent). The
        files themselves are untouched — a dataset is a named set, not
        an owner."""
        rows = self._rows("datasets")
        keep = [r for r in rows if (r["namespace"], r["name"]) != (ns, name)]
        if len(keep) == len(rows):
            raise DMLError(f"dataset {ns}:{name} not found")
        self._snapshot("datasets", keep)
        self._snapshot("datasets_parent_child", [
            e for e in self._rows("datasets_parent_child")
            if (ns, name) not in ((e["parent_namespace"], e["parent_name"]),
                                  (e["child_namespace"], e["child_name"]))])
        fd_before = self.cat.files_datasets
        member = ((F.col("dataset_namespace") == ns)
                  & (F.col("dataset_name") == name))
        self._restage(files_datasets=fd_before.where(~member))
        # a dataset's membership keys are as many as a query finds
        self._journal("delete", "files_datasets", QuerySized(
            fd_before.where(member).select(*_MEMBER_COLUMNS)))

    @_locked
    def add_subset(self, parent_ns: str, parent_name: str,
                   child_ns: str, child_name: str) -> None:
        """Add a dataset parent→child (subset) edge (`metacat dataset
        add-subset`, metacat_dataset.py:155-164). Both endpoints must
        exist; re-adding an existing edge is a no-op (PK)."""
        for ns, name in ((parent_ns, parent_name),
                         (child_ns, child_name)):
            if self._dataset(ns, name) is None:
                raise DMLError(f"dataset {ns}:{name} not found")
        edge = dict(parent_namespace=parent_ns, parent_name=parent_name,
                    child_namespace=child_ns, child_name=child_name)
        edges = self._rows("datasets_parent_child")
        if not any(all(e[c] == v for c, v in edge.items()) for e in edges):
            self._snapshot("datasets_parent_child", edges + [edge])

    @_locked
    def create_named_query(self, ns: str, name: str, source: str,
                           creator: str = "admin",
                           description: str = "",
                           update: bool = False) -> None:
        """Save an MQL query under a name (`metacat named_query
        create`, metacat_named_query.py:67-96). The engine inlines it
        at `query <ns>:<name>` references with cycle detection.
        ``update=True`` replaces an existing query's source/creator
        (the reference handler's ?update=yes,
        data_handler.py:1425-1460); without it a duplicate is a PK
        error."""
        rows = self._rows("queries_tbl")
        keep = [r for r in rows if (r["namespace"], r["name"]) != (ns, name)]
        if len(keep) < len(rows) and not update:
            raise AlreadyExists(f"named query {ns}:{name} already exists")
        self._snapshot("queries_tbl", keep + [dict(
            namespace=ns, name=name, source=source, creator=creator,
            description=description)])

    @_locked
    def create_parameter_category(self, path: str,
                                  definitions: Optional[dict] = None,
                                  restricted: bool = False,
                                  owner_user: str = "admin",
                                  description: str = "",
                                  creator: str = "admin") -> None:
        """Register a parameter category as catalog state (reference
        schema.sql:162-176; `metacat category` CLI family). Validation
        for subsequent declares/updates picks up the new rules
        immediately."""
        if self.cat.parameter_categories is None:
            raise DMLError("catalog has no parameter_categories table")
        rows = self._rows("parameter_categories")
        if any(r["path"] == path for r in rows):
            raise AlreadyExists(f"category {path!r} already exists")
        self._snapshot("parameter_categories", rows + [dict(
            path=path, restricted=restricted,
            definitions=json.dumps(definitions or {}),
            owner_user=owner_user, description=description,
            creator=creator)])

    @_locked
    def create_namespace(self, name: str, owner: str = "admin") -> None:
        rows = self._rows("namespaces")
        if any(r["name"] == name for r in rows):
            raise DMLError(f"namespace {name!r} already exists")
        self._snapshot("namespaces",
                       rows + [dict(name=name, owner_user=owner)])

    # ------------------------------------------------------------- sinks
    @_locked
    def save_as(self, result: DataFrame, ns: str, name: str,
                frozen: bool = False, monotonic: bool = False) -> int:
        """Materialize a query result as a NEW dataset
        (data_handler.py:1306-1337)."""
        self._new_dataset(ns, name, {}, dict(
            frozen=frozen, monotonic=monotonic, creator="engine",
            description=f"saved query result {ns}:{name}"))
        # a frozen save_as still receives its own files
        return self._add_result(result, ns, name)

    @_locked
    def add_to(self, result: DataFrame, ns: str, name: str) -> int:
        """Append a query result's files to an existing dataset
        (data_handler.py:1368-1370) — distributed append, no driver
        loop."""
        frozen, _, _ = self._dataset(ns, name) or (False,) * 3
        if frozen:
            raise DMLError(f"dataset {ns}:{name} is frozen")
        return self._add_result(result, ns, name)

    def _add_result(self, result: DataFrame, ns: str, name: str) -> int:
        add = result.select(
            F.col("id").alias("file_id"),
            F.lit(ns).alias("dataset_namespace"),
            F.lit(name).alias("dataset_name")).dropDuplicates(["file_id"])
        existing = self.cat.files_datasets.where(
            (F.col("dataset_namespace") == ns)
            & (F.col("dataset_name") == name))
        add = add.join(existing.select("file_id"), "file_id", "left_anti")
        # pin the result-derived batch: the source query may be
        # non-deterministic, and count / union / journal must all see
        # ONE materialization (it also drops the pre-existing double
        # execution between count() and the union's first action)
        add = add.localCheckpoint()
        n = add.count()
        self.cat.stage(files_datasets=self.cat.append("files_datasets", add))
        self._journal("upsert", "files_datasets", QuerySized(add))
        return n
