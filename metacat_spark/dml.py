"""DML / catalog operations (SURVEY.md §2.10).

The reference's write surface (webapi.py:429-1123,
data_handler.py:631-1263) re-expressed over the Catalog's DataFrames:
declare/update/retire files, dataset create + membership with
metadata-requirement validation and frozen/monotonic enforcement
(data_handler.py:424-548), and the query sinks save_as/add_to
(data_handler.py:1306-1370).

Mutations produce NEW DataFrames swapped into the Catalog (session
state). With a ``durable.DurableStore`` (r8), every mutation ALSO
appends its row-level delta to a parquet commit log, so writes
survive a restart like the reference's PostgreSQL rows do — see
durable.py for the log model and docs/DIVERGENCES.md §9 for the
contract. Bulk declare is a single DataFrame union (the
COPY-equivalent, dbobjects2.py:525-557), never a row-at-a-time loop.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from .catalog import Catalog, resident
from .validation import (CATEGORY_COLUMNS, DEFAULT_CATEGORIES,
                         category_of, validate_metadata)


class DMLError(Exception):
    pass


def _apply_meta_patch(df: DataFrame, meta_schema, hit, new_meta: dict
                      ) -> DataFrame:
    """Rewrite the JSON metadata column AND every shredded column for the
    rows matching ``hit`` so the two representations never diverge (the
    predicate compiler resolves shredded keys first, so a stale shredded
    column would make queries on an updated key return wrong results).

    Shredded keys absent from ``new_meta`` are nulled — the patch dict is
    the full post-update metadata, so absence means the key is gone.
    """
    out = df.withColumn(
        meta_schema.json_column,
        F.when(hit, F.lit(json.dumps(new_meta)))
         .otherwise(F.col(meta_schema.json_column)))
    if "metadata_v" in df.columns:
        # variant-mode twin of the shredded sync below: a stale
        # VariantType column would serve old values to every
        # try_variant_get predicate after a mutation (review r6)
        out = out.withColumn(
            "metadata_v",
            F.when(hit, F.parse_json(F.lit(json.dumps(new_meta))))
             .otherwise(F.col("metadata_v")))
    for mk in meta_schema.by_key.values():
        if mk.column not in df.columns:
            continue
        dtype = df.schema[mk.column].dataType
        v = new_meta.get(mk.key)
        if v is None:
            newv = F.lit(None).cast(dtype)
        elif isinstance(v, (list, dict)):
            # array/map shredded columns: go through from_json so nested
            # element types land exactly as the column type demands
            newv = F.from_json(F.lit(json.dumps(v)), dtype)
        else:
            newv = F.lit(v).cast(dtype)
        out = out.withColumn(
            mk.column, F.when(hit, newv).otherwise(F.col(mk.column)))
    return out


class ValidationFailed(DMLError):
    def __init__(self, errors):
        super().__init__(f"metadata validation failed: {errors}")
        self.errors = errors


class AlreadyExists(DMLError):
    """Reference PK violation equivalent (files.id / datasets PKs,
    schema.sql:45-120): redeclaring an existing object is an error, not
    an upsert."""
    pass


def _load_categories(catalog: Catalog) -> dict:
    """Validation rules come from the catalog's parameter_categories
    table (reference schema.sql:162-176), not a hard-coded dict —
    a deployment declares its own categories as catalog state. The
    table is tiny (one row per category); a driver collect is the
    right plan."""
    if catalog.parameter_categories is None:
        return DEFAULT_CATEGORIES
    out = {}
    for r in catalog.parameter_categories.collect():
        out[r["path"]] = {
            "restricted": bool(r["restricted"]),
            "definitions": json.loads(r["definitions"] or "{}"),
        }
    return out


def _locked(fn):
    """Serialize catalog mutations: the threaded HTTP server runs one
    thread per request, and every mutator is a read-modify-write of
    catalog DataFrame references (read cat.files → transform →
    assign) — two concurrent declares would silently drop one
    thread's rows without this (review r6). RLock because composite
    mutations nest (save_as → add_to, declare_files →
    add_files_to_dataset).

    Durable mode (r8): the wrapper is also the commit boundary —
    journal ops buffered by the mutator (and any nested mutators)
    flush as ONE DurableStore commit when the OUTERMOST mutation
    returns. A raising mutation ALSO flushes whatever it buffered:
    the journaling invariant is "op buffered ⇒ its session mutation
    is already applied" (every _journal call sits directly after its
    assignment), so flushing keeps the commit log equal to session
    state even when a composite mutator fails partway (review r8 —
    the original discard-on-raise policy silently diverged: the
    session kept the partial mutation while the log lost it, and a
    restart rolled it back). Mutators still check-then-mutate, so a
    mutation that fails validation journals nothing at all."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *a, **k):
        def flush():
            if self._depth == 1 and self._pending:
                ops, self._pending = self._pending, []
                if self._store is not None:
                    try:
                        self._store.commit(ops,
                                           dml_meta=self._dml_meta())
                    except BaseException as e:
                        # re-buffer so a LATER successful mutation's
                        # flush carries these ops — without this the
                        # session keeps the mutation but the log
                        # loses it permanently (a retry then hits
                        # AlreadyExists while the log stays behind
                        # until restart; ADVICE r8)
                        self._pending = ops + self._pending
                        if hasattr(e, "add_note"):
                            e.add_note(
                                "durable commit failed; the ops are "
                                "re-buffered and will flush with the "
                                "next successful mutation — or "
                                "re-attach the catalog to roll the "
                                "session back to the last commit")
                        raise

        with self._lock:
            self._depth += 1
            try:
                out = fn(self, *a, **k)
                flush()              # commit failures surface here
                return out
            except BaseException as orig:
                try:
                    flush()          # keep log == session state
                except Exception:
                    # an additional commit failure must not mask the
                    # mutation's own exception; the log is now behind
                    # the session by this one partial mutation (the
                    # same window as any commit-write failure —
                    # docs/DIVERGENCES.md §9's write-behind contract)
                    pass
                raise orig
            finally:
                self._depth -= 1
    return wrapper


class DML:
    def __init__(self, catalog: Catalog, categories: Optional[dict] = None,
                 store=None):
        """``store``: a durable.DurableStore (or None for the default
        session-state mode). With a store, every mutation also appends
        its delta to the store's commit log — see durable.py for the
        persistence model and docs/DIVERGENCES.md for the contract.
        The store does NOT attach committed state to the catalog here;
        call store.attach(catalog) before constructing the DML when
        restoring (client/CLI/server do)."""
        import threading
        self._lock = threading.RLock()
        self._store = store
        self._depth = 0
        self._pending: list = []
        self.cat = catalog
        self.categories = (_load_categories(catalog)
                           if categories is None else categories)
        # dataset-level metadata requirements
        # (files must satisfy them to join — dbobjects2.py:1577-1597)
        self.dataset_requirements: dict[tuple[str, str], dict] = {}
        if store is not None:
            self.dataset_requirements.update(
                store.dataset_requirements())
        self.refresh()

    def _journal(self, kind: str, table: str, df: DataFrame) -> None:
        """Buffer one journal op (no-op without a store); flushed as a
        single durable commit by the outermost @_locked exit."""
        if self._store is not None:
            self._pending.append((kind, table, df))

    def _dml_meta(self) -> dict:
        return {"dataset_requirements": {
            f"{ns}\t{name}": reqs for (ns, name), reqs
            in self.dataset_requirements.items()}}

    def refresh(self) -> None:
        """(Re)load the dataset-level flag caches from the catalog.
        This instance keeps its own caches in sync with its own
        mutations (update_dataset below); call this when ANOTHER
        session may have flipped frozen/monotonic — e.g. once per
        request batch in a long-lived service. Catalog-sized collect
        (datasets are few), never per-file."""
        self.frozen: set[tuple[str, str]] = set()
        self.monotonic: set[tuple[str, str]] = set()
        for r in self.cat.datasets.select("namespace", "name", "frozen",
                                          "monotonic").collect():
            if r["frozen"]:
                self.frozen.add((r["namespace"], r["name"]))
            if r["monotonic"]:
                self.monotonic.add((r["namespace"], r["name"]))

    def _set_files(self, df) -> None:
        """Replace cat.files for a mutation that cannot introduce a
        duplicate id (point patches never add rows; declare_files
        enforces the PK before appending): carries the catalog's
        ids_unique invariant across the assignment, which otherwise
        auto-invalidates it (Catalog.__setattr__)."""
        prev = self.cat.ids_unique
        self.cat.files = resident(df)
        self.cat.ids_unique = prev

    # ------------------------------------------------------- validation
    def validate(self, metadata: dict,
                 extra_requirements: Optional[dict] = None) -> None:
        errors = []
        for key in metadata:
            cat = category_of(key)
            spec = self.categories.get(cat)
            if spec is None:
                continue  # uncategorized keys are unrestricted
            errs = validate_metadata(spec["definitions"],
                                     spec.get("restricted", False),
                                     {key: metadata[key]})
            errors.extend(e for e in errs
                          if e[1] != "required parameter is missing")
        # category-level required keys
        for cat, spec in self.categories.items():
            for key, d in spec["definitions"].items():
                if d.get("required") and any(
                        k.startswith(cat + ".") for k in metadata) \
                        and key not in metadata:
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
        if dataset is not None:
            # target-dataset checks BEFORE any mutation: declaring
            # into a missing/frozen dataset must fail atomically, not
            # after the file rows and edges were already appended
            # (review r6)
            dns, dname = dataset
            if (dns, dname) in self.frozen:
                raise DMLError(f"dataset {dns}:{dname} is frozen")
            if self.cat.datasets.where(
                    (F.col("namespace") == dns)
                    & (F.col("name") == dname)).first() is None:
                raise DMLError(f"dataset {dns}:{dname} not found")
        # parent-id FK check BEFORE any mutation (review r8): the
        # old post-append check left the appended file rows in
        # session state when a parent was missing. Intra-batch
        # references resolve against the batch ids themselves.
        out_of_batch = sorted({p for r in rows
                               for p in (r.get("parents") or [])}
                              - set(ids))
        self._check_fids_exist(out_of_batch, "parent")
        reqs = (self.dataset_requirements.get(dataset)
                if dataset else None)
        prepared = []
        for r in rows:
            meta = r.get("metadata", {})
            self.validate(meta, reqs)
            base = dict(
                id=r["id"], namespace=r["namespace"], name=r["name"],
                size=int(r.get("size", 0)),
                creator=r.get("creator", "unknown"),
                metadata=json.dumps(meta), retired=False,
                checksums=({k: str(v) for k, v
                            in r["checksums"].items()}
                           if r.get("checksums") else None))
            # shred the hot keys at ingest (the engine's predicates are
            # shredded-first; JSON is the fallback for cold keys);
            # every row carries every shredded field so the Rows are
            # schema-uniform
            for mk in self.cat.file_meta.by_key.values():
                v = meta.get(mk.key)
                if v is not None and mk.mtype == "float" \
                        and isinstance(v, int):
                    v = float(v)
                base[mk.column] = v
            prepared.append(base)
        from pyspark.sql import types as T
        files_schema = {f.name: f for f in self.cat.files.schema.fields}
        field_names = list(prepared[0].keys())
        schema = T.StructType([
            T.StructField(c, files_schema[c].dataType, nullable=True)
            if c in files_schema
            else T.StructField(c, T.StringType()) for c in field_names])
        new = self.cat.spark.createDataFrame(
            [tuple(p[c] for c in field_names) for p in prepared], schema)
        # align to the files schema; unknown shredded columns stay null
        files = self.cat.files
        for c in files.columns:
            if c not in new.columns:
                if c == "created_timestamp":
                    # reference schema defaults now() (schema.sql
                    # files table); NULL here would drop every newly
                    # declared file from created_timestamp predicates
                    new = new.withColumn(
                        c, F.current_timestamp()
                            .cast(files.schema[c].dataType))
                elif c == "metadata_v":
                    # variant-mode catalogs: keep the VariantType
                    # column in lockstep with the JSON (review r6)
                    new = new.withColumn(
                        c, F.parse_json(F.col("metadata")))
                else:
                    new = new.withColumn(
                        c, F.lit(None).cast(files.schema[c].dataType))
        new = new.select(*files.columns)
        if self._store is not None:
            # pin the batch (current_timestamp is non-deterministic):
            # the union below and the journal segment must carry the
            # SAME created_timestamp values
            new = new.localCheckpoint()
        self._set_files(files.unionByName(new))
        self._journal("upsert", "files", new)
        # provenance edges declared inline (data_handler declare
        # accepts parents per file); FK-checked against the post-append
        # files so intra-batch references resolve
        edges = [(p, r["id"]) for r in rows
                 for p in (r.get("parents") or [])]
        if edges:
            add = (self.cat.spark.createDataFrame(
                       edges, ["parent_id", "child_id"])
                   .join(self.cat.parent_child,
                         ["parent_id", "child_id"], "left_anti"))
            self.cat.parent_child = resident(
                self.cat.parent_child.unionByName(add))
            self._journal("upsert", "parent_child", add)
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
        refuse removals."""
        if (ns, name) in self.frozen:
            raise DMLError(f"dataset {ns}:{name} is frozen")
        if not _skip_exist_check:
            # dataset and file ids must exist (FK semantics,
            # schema.sql:96-104)
            if self.cat.datasets.where(
                    (F.col("namespace") == ns)
                    & (F.col("name") == name)).first() is None:
                raise DMLError(f"dataset {ns}:{name} not found")
            found = {r["id"] for r in self.cat.files
                     .where(F.col("id").isin(file_ids))
                     .select("id").collect()}
            missing = set(file_ids) - found
            if missing:
                raise DMLError(f"file id(s) not found: "
                               f"{sorted(missing)[:5]}")
            reqs = self.dataset_requirements.get((ns, name))
            if reqs:
                # dataset-level metadata requirements
                # (dbobjects2.py:1577-1597): every file joining the
                # dataset must satisfy them. The declare path
                # validates per-row before the append and skips this.
                metas = {r["id"]: json.loads(r["metadata"] or "{}")
                         for r in self.cat.files
                         .where(F.col("id").isin(file_ids))
                         .select("id", "metadata").collect()}
                errs = []
                for fid in sorted(set(file_ids)):
                    errs.extend(
                        (f"{fid}:{k}", msg) for k, msg in
                        validate_metadata(reqs, False,
                                          metas.get(fid, {})))
                if errs:
                    raise ValidationFailed(errs)
        add = self.cat.spark.createDataFrame(
            [(fid, ns, name) for fid in set(file_ids)],
            ["file_id", "dataset_namespace", "dataset_name"])
        # PK (file_id, dataset) — adding an already-member file is a
        # no-op, so anti-join the batch against existing membership
        existing = self.cat.files_datasets.where(
            (F.col("dataset_namespace") == ns)
            & (F.col("dataset_name") == name))
        add = add.join(existing.select("file_id"), "file_id", "left_anti")
        n = add.count()
        if n:
            self.cat.files_datasets = resident(
                self.cat.files_datasets.unionByName(add))
            self._journal("upsert", "files_datasets", add)
        return n

    @_locked
    def remove_files_from_dataset(self, file_ids: list[str], ns: str,
                                  name: str) -> None:
        if (ns, name) in self.frozen:
            raise DMLError(f"dataset {ns}:{name} is frozen")
        if (ns, name) in self.monotonic:
            raise DMLError(f"dataset {ns}:{name} is monotonic; "
                           f"files cannot be removed")
        if not file_ids:
            # empty request: a no-op (like isin([]) was), AFTER the
            # frozen/monotonic policy checks — createDataFrame([])
            # can't infer a schema and would 500 the server's
            # remove_files with an empty body (review r8)
            return
        fd = self.cat.files_datasets
        self.cat.files_datasets = resident(fd.where(~(
            (F.col("dataset_namespace") == ns)
            & (F.col("dataset_name") == name)
            & F.col("file_id").isin(file_ids))))
        if self._store is not None:
            # delete keys enumerate from the request itself (never a
            # table scan); non-member keys journal harmless no-ops.
            # Built only in durable mode — _journal's args evaluate
            # eagerly (review r8)
            self._journal("delete", "files_datasets",
                          self.cat.spark.createDataFrame(
                              [(fid, ns, name)
                               for fid in set(file_ids)],
                              ["file_id", "dataset_namespace",
                               "dataset_name"]))

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
        storage the lookup prunes to one bucket.
        """
        if mode not in ("update", "replace"):
            raise DMLError(f"bad mode {mode!r}")
        self.validate(metadata)
        files = self.cat.files
        row = files.where(F.col("id") == file_id) \
                   .select("metadata").first()
        if row is None:
            # replace mode too: the reference 404s on an unknown fid —
            # a silent zero-row patch is not a success (review r6)
            raise DMLError(f"file {file_id!r} not found")
        if mode == "replace":
            new_meta = dict(metadata)
        else:
            new_meta = json.loads(row["metadata"] or "{}")
            new_meta.update(metadata)
        self._set_files(_apply_meta_patch(
            files, self.cat.file_meta, F.col("id") == file_id,
            new_meta))
        # journal the PATCHED row from the assigned (checkpointed)
        # DataFrame: the segment write is its first action, so memory
        # and log see the same materialization
        self._journal("upsert", "files",
                      self.cat.files.where(F.col("id") == file_id))

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
        """Add (or replace) provenance edges touching ``file_id``.
        FK semantics: every referenced id must exist (schema.sql:67-73
        REFERENCES files(id)); added edges are anti-joined against the
        existing edge set so re-adding is a no-op, like the PK."""
        self._check_fids_exist(other_ids,
                               "parent" if as_parents else "child")
        pc = self.cat.parent_child
        me, other = (("child_id", "parent_id") if as_parents
                     else ("parent_id", "child_id"))
        add = None
        pc0 = pc
        if replace:
            pc = pc.where(F.col(me) != file_id)
        if other_ids:
            rows = [(file_id, o) for o in other_ids]
            add = (self.cat.spark.createDataFrame(rows, [me, other])
                   .select("parent_id", "child_id")
                   .join(pc, ["parent_id", "child_id"], "left_anti"))
            pc = pc.unionByName(add)
        self.cat.parent_child = resident(pc)
        # journal AFTER the assignment — the flush-on-exception
        # contract requires "op buffered ⇒ mutation applied" (r8).
        # The delete keys enumerate distributed from the pre-filter
        # edge table (a point lookup, no driver rows); delete seq <
        # upsert seq, so a replaced-and-re-added edge lands present.
        if replace:
            self._journal("delete", "parent_child",
                          pc0.where(F.col(me) == file_id)
                          .select("parent_id", "child_id"))
        if add is not None:
            self._journal("upsert", "parent_child", add)

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
        replace with ``replace=True``), metadata (delegated to
        update_file_metadata), and provenance edges (add, or replace —
        ``parents=[]`` with replace removes all). Point update: one
        bucketed-row patch; checksum merge is driver-side on the one
        target row, preserving the reference's dict-update semantics."""
        files = self.cat.files
        row = files.where(F.col("id") == file_id) \
                   .select("id", "checksums").first()
        if row is None:
            raise DMLError(f"file {file_id!r} not found")
        # ALL validations before ANY patch (review r8): a metadata
        # validation error or missing edge id after the size/checksum
        # patch had already applied would leave a partial mutation
        if metadata is not None:
            self.validate(metadata)
        if parents is not None:
            self._check_fids_exist(parents, "parent")
        if children is not None:
            self._check_fids_exist(children, "child")
        hit = F.col("id") == file_id
        changed = False
        if size is not None:
            files = files.withColumn(
                "size", F.when(hit, F.lit(int(size)).cast("long"))
                         .otherwise(F.col("size")))
            changed = True
        if checksums is not None:
            merged = {} if replace else dict(row["checksums"] or {})
            merged.update({k: str(v) for k, v in checksums.items()})
            if merged:
                lit_map = F.create_map(*[F.lit(x) for kv in merged.items()
                                         for x in kv])
            else:
                lit_map = F.lit(None).cast("map<string,string>")
            files = files.withColumn(
                "checksums", F.when(hit, lit_map)
                              .otherwise(F.col("checksums")))
            changed = True
        if changed:
            files = (files.withColumn(
                        "updated_by", F.when(hit, F.lit(by))
                                       .otherwise(F.col("updated_by")))
                     .withColumn(
                        "updated_timestamp",
                        F.when(hit, F.current_timestamp())
                         .otherwise(F.col("updated_timestamp"))))
            self._set_files(files)
            self._journal("upsert", "files", self.cat.files.where(hit))
        if metadata is not None:
            self.update_file_metadata(
                file_id, metadata, mode="replace" if replace else "update")
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
        files = self.cat.files
        hit = F.col("id") == file_id
        if files.where(hit).first() is None:
            raise DMLError(f"file {file_id!r} not found")
        retired_by = (F.lit(None).cast("string") if unretire
                      else F.lit(by))
        retired_ts = (F.lit(None).cast("timestamp") if unretire
                      else F.current_timestamp())
        self._set_files(
            files.withColumn("retired",
                             F.when(hit, F.lit(not unretire))
                              .otherwise(F.col("retired")))
                 .withColumn("retired_by",
                             F.when(hit, retired_by)
                              .otherwise(F.col("retired_by")))
                 .withColumn("retired_timestamp",
                             F.when(hit, retired_ts)
                              .otherwise(F.col("retired_timestamp"))))
        self._journal("upsert", "files", self.cat.files.where(hit))

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
        row = files.where(hit).select("id").first()
        if row is None:
            raise DMLError("file not found")
        fid = row["id"]
        fd_before = self.cat.files_datasets
        pc_before = self.cat.parent_child
        # row removal cannot introduce a duplicate id
        self._set_files(files.where(F.col("id") != fid))
        self.cat.files_datasets = resident(
            fd_before.where(F.col("file_id") != fid))
        self.cat.parent_child = resident(
            pc_before.where(
                (F.col("parent_id") != fid)
                & (F.col("child_id") != fid)))
        if self._store is not None:
            # cascade deletes journal the affected KEYS, enumerated
            # distributed from the pre-delete tables (point lookups);
            # guarded so memory mode never pays the createDataFrame
            self._journal("delete", "files",
                          self.cat.spark.createDataFrame([(fid,)],
                                                         ["id"]))
            self._journal("delete", "files_datasets",
                          fd_before.where(F.col("file_id") == fid)
                          .select("file_id", "dataset_namespace",
                                  "dataset_name"))
            self._journal("delete", "parent_child",
                          pc_before.where((F.col("parent_id") == fid)
                                          | (F.col("child_id") == fid))
                          .select("parent_id", "child_id"))
        return fid

    @_locked
    def move_files(self, file_ids: list[str], to_namespace: str,
                   by: str = "admin") -> None:
        """Move files across namespaces (dbobjects2.py:706-736): the
        namespace column changes; the file id (and thus provenance and
        membership, which key on id) is untouched."""
        self._check_fids_exist(file_ids, "move")
        files = self.cat.files
        hit = F.col("id").isin(file_ids)
        self._set_files(
            files.withColumn("namespace",
                             F.when(hit, F.lit(to_namespace))
                              .otherwise(F.col("namespace")))
                 .withColumn("updated_by",
                             F.when(hit, F.lit(by))
                              .otherwise(F.col("updated_by")))
                 .withColumn("updated_timestamp",
                             F.when(hit, F.current_timestamp())
                              .otherwise(F.col("updated_timestamp"))))
        self._journal("upsert", "files", self.cat.files.where(hit))

    @_locked
    def update_dataset(self, ns: str, name: str,
                       metadata: Optional[dict] = None,
                       mode: str = "update",
                       frozen: Optional[bool] = None,
                       monotonic: Optional[bool] = None,
                       description: Optional[str] = None) -> None:
        """Dataset updates incl. metadata update/replace modes
        (webapi.py:429-472) and flag toggles."""
        ds = self.cat.datasets
        hit = (F.col("namespace") == ns) & (F.col("name") == name)
        if ds.where(hit).first() is None:
            # flag/metadata updates on a missing dataset must 404, not
            # no-op (and a silent frozen=True would poison the flag
            # cache with a phantom entry — review r6)
            raise DMLError(f"dataset {ns}:{name} not found")
        if metadata is not None:
            if mode not in ("update", "replace"):
                raise DMLError(f"bad mode {mode!r}")
            if mode == "replace":
                new_meta = dict(metadata)
            else:
                # driver-side type-preserving merge (see
                # update_file_metadata)
                row = ds.where(hit).select("metadata").first()
                if row is None:
                    raise DMLError(f"dataset {ns}:{name} not found")
                new_meta = json.loads(row["metadata"] or "{}")
                new_meta.update(metadata)
            ds = _apply_meta_patch(ds, self.cat.dataset_meta, hit,
                                   new_meta)
        for colname, val in (("frozen", frozen), ("monotonic", monotonic),
                             ("description", description)):
            if val is not None:
                ds = ds.withColumn(colname,
                                   F.when(hit, F.lit(val))
                                    .otherwise(F.col(colname)))
        self.cat.datasets = resident(ds)
        self._journal("snapshot", "datasets", self.cat.datasets)
        if frozen is not None:
            (self.frozen.add if frozen else
             self.frozen.discard)((ns, name))
        if monotonic is not None:
            (self.monotonic.add if monotonic else
             self.monotonic.discard)((ns, name))

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
        existing = self.cat.datasets.where(
            (F.col("namespace") == ns) & (F.col("name") == name)).count()
        if existing:
            raise AlreadyExists(f"dataset {ns}:{name} already exists")
        # dataset metadata is uncategorized (dotless keys in the
        # reference fixture) — file-category validation doesn't apply
        row = self.cat.spark.createDataFrame(
            [(ns, name, frozen, monotonic, creator, description)],
            ["namespace", "name", "frozen", "monotonic", "creator",
             "description"])
        row = row.withColumn("created_timestamp", F.current_timestamp()) \
                 .withColumn("metadata",
                             F.lit(json.dumps(metadata or {})))
        ds = self.cat.datasets
        for c in ds.columns:
            if c not in row.columns:
                row = row.withColumn(
                    c, F.lit(None).cast(ds.schema[c].dataType))
        self.cat.datasets = resident(
            ds.unionByName(row.select(*ds.columns)))
        self._journal("snapshot", "datasets", self.cat.datasets)
        if frozen:
            self.frozen.add((ns, name))
        if monotonic:
            self.monotonic.add((ns, name))
        if file_meta_requirements:
            # enforced on add_files_to_dataset / declare-into-dataset
            # (this-instance cache, like the frozen/monotonic flags)
            self.dataset_requirements[(ns, name)] =                 file_meta_requirements

    @_locked
    def remove_dataset(self, ns: str, name: str) -> None:
        """Delete a dataset, its membership rows, and its subset edges
        (data_handler.py 'remove dataset'; FK cascade equivalent). The
        files themselves are untouched — a dataset is a named set, not
        an owner."""
        hit = ((F.col("namespace") == ns) & (F.col("name") == name))
        if self.cat.datasets.where(hit).first() is None:
            raise DMLError(f"dataset {ns}:{name} not found")
        self.cat.datasets = resident(self.cat.datasets.where(~hit))
        self.dataset_requirements.pop((ns, name), None)
        self.frozen.discard((ns, name))
        self.monotonic.discard((ns, name))
        fd_before = self.cat.files_datasets
        self.cat.files_datasets = resident(
            fd_before.where(~(
                (F.col("dataset_namespace") == ns)
                & (F.col("dataset_name") == name))))
        dpc = self.cat.datasets_parent_child
        self.cat.datasets_parent_child = resident(dpc.where(~(
            ((F.col("parent_namespace") == ns)
             & (F.col("parent_name") == name))
            | ((F.col("child_namespace") == ns)
               & (F.col("child_name") == name)))))
        self.frozen.discard((ns, name))
        self.monotonic.discard((ns, name))
        self._journal("snapshot", "datasets", self.cat.datasets)
        self._journal("snapshot", "datasets_parent_child",
                      self.cat.datasets_parent_child)
        self._journal("delete", "files_datasets",
                      fd_before.where(
                          (F.col("dataset_namespace") == ns)
                          & (F.col("dataset_name") == name))
                      .select("file_id", "dataset_namespace",
                              "dataset_name"))

    @_locked
    def add_subset(self, parent_ns: str, parent_name: str,
                   child_ns: str, child_name: str) -> None:
        """Add a dataset parent→child (subset) edge (`metacat dataset
        add-subset`, metacat_dataset.py:155-164). Both endpoints must
        exist; re-adding an existing edge is a no-op (PK)."""
        for ns, name in ((parent_ns, parent_name),
                         (child_ns, child_name)):
            if self.cat.datasets.where(
                    (F.col("namespace") == ns)
                    & (F.col("name") == name)).first() is None:
                raise DMLError(f"dataset {ns}:{name} not found")
        dpc = self.cat.datasets_parent_child
        edge = self.cat.spark.createDataFrame(
            [(parent_ns, parent_name, child_ns, child_name)],
            dpc.columns)
        edge = edge.join(dpc, dpc.columns, "left_anti")
        if edge.count():
            self.cat.datasets_parent_child = resident(dpc.unionByName(edge))
            self._journal("snapshot", "datasets_parent_child",
                          self.cat.datasets_parent_child)

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
        qt = self.cat.queries_tbl
        existing = qt.where((F.col("namespace") == ns)
                            & (F.col("name") == name)).count()
        if existing:
            if not update:
                raise AlreadyExists(f"named query {ns}:{name} "
                                    f"already exists")
            qt = qt.where(~((F.col("namespace") == ns)
                            & (F.col("name") == name)))
        row = self.cat.spark.createDataFrame(
            [(ns, name, source, creator, description)],
            ["namespace", "name", "source", "creator", "description"])
        for c in qt.columns:
            if c not in row.columns:
                row = row.withColumn(
                    c, F.lit(None).cast(qt.schema[c].dataType))
        self.cat.queries_tbl = resident(
            qt.unionByName(row.select(*qt.columns)))
        self._journal("snapshot", "queries_tbl", self.cat.queries_tbl)

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
        pc = self.cat.parameter_categories
        if pc is None:
            raise DMLError("catalog has no parameter_categories table")
        if pc.where(F.col("path") == path).count():
            raise AlreadyExists(f"category {path!r} already exists")
        row = self.cat.spark.createDataFrame(
            [(path, restricted, json.dumps(definitions or {}),
              owner_user, description, creator)], CATEGORY_COLUMNS)
        self.cat.parameter_categories = resident(pc.unionByName(row))
        self._journal("snapshot", "parameter_categories",
                      self.cat.parameter_categories)
        self.categories[path] = {
            "restricted": restricted,
            "definitions": definitions or {},
        }

    @_locked
    def create_namespace(self, name: str, owner: str = "admin") -> None:
        existing = self.cat.namespaces.where(
            F.col("name") == name).count()
        if existing:
            raise DMLError(f"namespace {name!r} already exists")
        row = self.cat.spark.createDataFrame([(name, owner)],
                                             self.cat.namespaces.columns)
        self.cat.namespaces = resident(
            self.cat.namespaces.unionByName(row))
        self._journal("snapshot", "namespaces", self.cat.namespaces)

    # ------------------------------------------------------------- sinks
    @_locked
    def save_as(self, result: DataFrame, ns: str, name: str,
                frozen: bool = False, monotonic: bool = False) -> int:
        """Materialize a query result as a NEW dataset
        (data_handler.py:1306-1337)."""
        existing = self.cat.datasets.where(
            (F.col("namespace") == ns) & (F.col("name") == name)).count()
        if existing:
            raise DMLError(f"dataset {ns}:{name} already exists")
        row = self.cat.spark.createDataFrame(
            [(ns, name, frozen, monotonic, "engine",
              f"saved query result {ns}:{name}")],
            ["namespace", "name", "frozen", "monotonic", "creator",
             "description"])
        row = row.withColumn("created_timestamp", F.current_timestamp()) \
                 .withColumn("metadata", F.lit("{}"))
        ds = self.cat.datasets
        for c in ds.columns:
            if c not in row.columns:
                row = row.withColumn(c,
                                     F.lit(None).cast(ds.schema[c].dataType))
        self.cat.datasets = resident(
            ds.unionByName(row.select(*ds.columns)))
        self._journal("snapshot", "datasets", self.cat.datasets)
        # add the result BEFORE arming the flag caches (a frozen
        # save_as still receives its own files), then keep the caches
        # in sync like create_dataset does (review r6)
        n = self.add_to(result, ns, name)
        if frozen:
            self.frozen.add((ns, name))
        if monotonic:
            self.monotonic.add((ns, name))
        return n

    @_locked
    def add_to(self, result: DataFrame, ns: str, name: str) -> int:
        """Append a query result's files to an existing dataset
        (data_handler.py:1368-1370) — distributed append, no driver
        loop."""
        if (ns, name) in self.frozen:
            raise DMLError(f"dataset {ns}:{name} is frozen")
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
        self.cat.files_datasets = resident(
            self.cat.files_datasets.unionByName(add))
        self._journal("upsert", "files_datasets", add)
        return n
