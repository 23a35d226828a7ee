"""The query engine: MQL text → one Spark SQL statement.

Translation strategy: parse MQL with our parser, then compile the whole
query into one Spark SQL text over the pinned catalog state's tables
and run it with a single ``spark.sql`` — the reference's "SQL fusion"
(sql_converter.py:104-163), which hands PostgreSQL one statement.
Building a DataFrame chain instead costs a py4j round trip per
operator and per Column node, more than Catalyst then spends on the
plan; the text costs a handful. Catalyst then performs everything the
reference's hand-rolled optimizer did (predicate pushdown, conjunction
merge, NOT elimination, union flattening, empty propagation, column
pruning; mql10.py:127-475) plus what it never had (join reordering,
AQE, whole-stage codegen).

Each table is read through a temp view the catalog binds once per
table object (``Catalog.views``); literals go into the text inline
(``predicate.lit``).

Semantics preserved from the reference:
- file sets are distinct-by-file-id (dbobjects2.py:181-193); we use
  left-semi/left-anti joins so no explicit distinct is ever needed
- BFQs exclude retired files unless include_retired
  (dbobjects2.py:260-262); explicit file lists do NOT filter retired
  (dbobjects2.py:305-345)
- skip/limit merge law + `skip ⇒ ordered` (mql10.py:39-45,244-346,768-786)
- a dataset query is one OR filter on the key (namespace, name); `with
  subsets`/`with ancestors` [recursively] is a cycle-guarded closure
  walked on the driver (dbobjects2.py:1060-1122,1505-1575)
- named queries are inlined at translate time with cycle detection
  (mql10.py:907-923)
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from contextvars import ContextVar
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog
from .mql import parse
from .mql.ast import (BasicFileQuery, ChildrenOf, Const, DatasetQuery,
                      DatasetSelector, FileList, FileQuery, FilterOp,
                      JoinOp, LimitOp, MinusOp, NamedQueryRef, OrderedOp,
                      ParentsOf, QueryQuery, SkipOp, UnionOp, WhereOp)
from .predicate import PredicateCompiler, lit
from .schema import (DATASET_ATTRIBUTES, FILE_ATTRIBUTES, QUERY_ATTRIBUTES)

FILE_OUTPUT_COLUMNS = ["id", "namespace", "name", "size", "creator",
                       "created_timestamp", "retired"]
_DATASET_COLUMNS = ["namespace", "name", "frozen", "monotonic", "creator",
                    "description", "created_timestamp"]
_QUERY_COLUMNS = ["namespace", "name", "source", "creator", "description"]

# the temporaries (filter outputs) that the query being compiled in
# this context has bound. A collected DataFrame's view is dropped at
# the next bind, this query's or another's, so they are held until the
# query's text has been analysed.
_TEMPS: ContextVar[list] = ContextVar("metacat_query_temps")


class QueryError(Exception):
    pass


def _from(rel: str) -> str:
    """``rel`` (a bound view's name or a query) as a FROM item."""
    return rel if rel.startswith("`") else f"({rel})"


def _where(rel: str, conds) -> str:
    """``rel``'s rows that meet every condition in ``conds`` (None
    entries skipped)."""
    conds = [c for c in conds if c]
    out = f"SELECT * FROM {_from(rel)}"
    return f"{out} WHERE {' AND '.join(conds)}" if conds else out


def _semi(left: str, right: str, how: str = "SEMI",
          on: str = "l.id = r.id") -> str:
    """``left``'s rows with (SEMI) or without (ANTI) a match in
    ``right``."""
    return (f"SELECT l.* FROM {_from(left)} l LEFT {how} JOIN "
            f"{_from(right)} r ON {on}")


def _union(rels) -> str:
    return " UNION ALL ".join(f"SELECT * FROM {_from(r)}" for r in rels)


def _in(cols: str, keys) -> str:
    """``cols`` is one of the value tuples ``keys`` (false if none)."""
    rows = ", ".join(f"({', '.join(map(lit, k))})" for k in sorted(keys))
    return f"({cols}) IN ({rows})" if keys else "false"


def _glob(col: str, pattern: str) -> str:
    """``col`` matches the ``*``/``?`` glob ``pattern`` (``=`` without
    either), LIKE's own ``_``/``%`` literal."""
    if "*" not in pattern and "?" not in pattern:
        return f"{col} = {lit(pattern)}"
    like = (pattern.replace("\\", "\\\\").replace("%", "\\%")
            .replace("_", "\\_").replace("*", "%").replace("?", "_"))
    return f"{col} LIKE {lit(like)}"


def _dedup(rel: str, keys: str) -> str:
    """One row of ``rel`` per value of ``keys``, any one of them."""
    return (f"SELECT * EXCEPT (_rn) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {keys} ORDER BY {keys}) AS _rn FROM "
            f"{_from(rel)}) WHERE _rn = 1")


class Engine:
    def __init__(self, catalog: Catalog):
        self.cat = catalog
        self.spark = catalog.spark
        if catalog.file_variant_column:
            # variant warehouse mode: every metadata predicate compiles
            # to variant_get over the ONE native VariantType column
            self.file_pred = PredicateCompiler(
                catalog.file_meta, FILE_ATTRIBUTES, json_column=None,
                variant_column=catalog.file_variant_column)
        else:
            self.file_pred = PredicateCompiler(catalog.file_meta,
                                               FILE_ATTRIBUTES, "metadata")
        self.dataset_pred = PredicateCompiler(catalog.dataset_meta,
                                              DATASET_ATTRIBUTES, "metadata")
        self.query_pred = PredicateCompiler(catalog.query_meta,
                                            QUERY_ATTRIBUTES, "metadata")

    # ------------------------------------------------------------- public
    def query(self, text, with_meta: bool = False,
              with_provenance: bool = False, summary: Optional[str] = None,
              include_retired: bool = False,
              default_namespace: Optional[str] = None,
              after_id: Optional[str] = None,
              page_size: Optional[int] = None) -> DataFrame:
        """Run an MQL query (text or parsed); returns a lazy DataFrame.

        Mirrors the REST /data/query option surface
        (webserver/data_handler.py:1266-1297).

        ``after_id``/``page_size`` are the scale-safe id-cursor
        pagination surface (docs/SCALING.md): `id > after_id` prunes
        the id-sorted bucketed scan (min/max row-group skipping) and
        the page limit compiles to a top-k (TakeOrderedAndProject) —
        no global Exchange+Sort, unlike MQL `skip n`, which is kept
        for reference parity. Page through by passing the last row's
        id back as the next ``after_id``.
        """
        with self._compiling():
            top = (parse(text, default_namespace=default_namespace)
                   if isinstance(text, str) else text)
            return self._plan(top, with_meta, with_provenance, summary,
                              include_retired, after_id, page_size)[1]

    def explain(self, text: str, default_namespace: Optional[str] = None,
                **kw) -> str:
        """MQL AST, the compiled Spark SQL and the Spark physical plan
        (parity with `metacat query -x`,
        metacat/ui/metacat_query.py:64-84)."""
        with self._compiling():
            top = parse(text, default_namespace=default_namespace)
            sql, df = self._plan(top, **kw)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        return (f"-- MQL AST --\n{top}\n\n-- Spark SQL --\n{sql}\n\n"
                f"-- Spark plan --\n{plan}")

    def _plan(self, top, with_meta: bool = False,
              with_provenance: bool = False, summary: Optional[str] = None,
              include_retired: bool = False, after_id: Optional[str] = None,
              page_size: Optional[int] = None) -> tuple[str, DataFrame]:
        """(SQL text, DataFrame) of a parsed query: one ``spark.sql`` of
        the text, with a keys/key-values summary built on top."""
        if summary and not isinstance(top, FileQuery):
            # summaries are defined over FILE sets (the reference's
            # data_handler summary surface); silently returning raw
            # dataset rows made /data/query?summary=count serve a
            # dataset record as "the count" (review r6)
            raise QueryError("summary= applies to file queries only")
        if isinstance(top, FileQuery):
            sql = self._fq(top.tree, include_retired)
            if summary == "count":
                sql = (f"SELECT count(*) AS count, sum(size) AS total_size "
                       f"FROM ({sql})")
            elif summary:
                return sql, self._summary(self.spark.sql(sql), summary)
            else:
                sql = self._project_files(sql, with_meta, with_provenance,
                                          after_id, page_size)
        elif isinstance(top, DatasetQuery):
            cols = _DATASET_COLUMNS + (["metadata"] if with_meta else [])
            sql = (f"SELECT {', '.join(cols)} FROM "
                   f"({self._datasets(top.selectors)})")
        elif isinstance(top, QueryQuery):
            cols = _QUERY_COLUMNS + (["metadata"] if with_meta else [])
            rows = _where(self._table("queries_tbl"), [
                top.pattern and self._selector(top.pattern, "namespace",
                                               "name"),
                top.where and self.query_pred.compile(top.where)])
            sql = f"SELECT {', '.join(cols)} FROM ({rows})"
        else:
            raise QueryError(f"unsupported query {top!r}")
        return sql, self.spark.sql(sql)

    @contextmanager
    def _compiling(self):
        """Compile and analyse one query: every table read from one
        pinned state, and its temporaries (filter outputs) held until
        the block exits."""
        token = _TEMPS.set([])
        try:
            with self.cat.pin():
                yield
        finally:
            _TEMPS.reset(token)

    def _table(self, name: str) -> str:
        """The view name of the pinned state's table ``name``."""
        return self.cat.views.bind(getattr(self.cat, name))

    def _temp(self, df: DataFrame) -> str:
        """The view name of ``df``, a temporary of the query being
        compiled."""
        _TEMPS.get().append(df)
        return self.cat.views.bind(df)

    # ------------------------------------------------------- file queries
    def _fq(self, node, include_retired: bool, stack: tuple = ()) -> str:
        """SQL of the file rows (every files column) ``node`` selects;
        ``stack``: the named queries being inlined around it."""
        fq = lambda n: self._fq(n, include_retired, stack)
        files = self._table("files")
        active = None if include_retired else "NOT retired"

        if isinstance(node, BasicFileQuery):
            rows = _where(files, [active, node.where and
                                  self.file_pred.compile(node.where)])
            return (_semi(rows, self._membership(node.datasets))
                    if node.datasets else rows)

        if isinstance(node, FileList):
            # explicit lists do NOT filter retired
            if node.kind == "fid":
                return _where(files, [
                    f"id IN ({', '.join(lit(i) for i in node.items)})"])
            for ns, name in node.items:
                if ns is None:
                    raise QueryError(f"no namespace for file {name!r}")
            return _where(files, ["(" + " OR ".join(
                f"(namespace = {lit(ns)} AND name = {lit(name)})"
                for ns, name in node.items) + ")"])

        if isinstance(node, NamedQueryRef):
            key = (node.namespace, node.name)
            if key in stack:
                raise QueryError(f"named query cycle: {key}")
            src = self.cat.named_query_source(node.namespace, node.name)
            if src is None:
                raise QueryError(f"named query not found: "
                                 f"{node.namespace}:{node.name}")
            sub = parse(src, default_namespace=node.namespace)
            if not isinstance(sub, FileQuery):
                raise QueryError("named query must be a file query")
            return self._fq(sub.tree, include_retired, stack + (key,))

        if isinstance(node, WhereOp):
            return _where(fq(node.child), [self.file_pred.compile(node.exp)])

        if isinstance(node, (UnionOp, JoinOp, MinusOp)):
            # id-set fast path: branches reduce to id sets WITHOUT
            # touching the files table (membership-only branches read
            # just the bucketed membership table; predicate branches an
            # id+predicate-pruned files scan), the sets combine
            # set-wise, and ONE final full-width files scan semi-joins
            # the result (bucketed on id → no shuffle on the big side).
            # The retired filter commutes with ∪/∩/∖ (it's a per-file
            # attribute), so for trees whose leaves are all BFQs — which
            # per-branch EXCLUDE retired — applying it once at the final
            # scan is exact. Trees with FileList / parents() / filter
            # leaves keep per-branch retired semantics and take the
            # row-level path. File sets are distinct-by-id
            # (dbobjects2.py:181-193), so with unique file ids id-set
            # algebra is exact — and ids ARE unique in any real catalog
            # (the reference's PK, our declare_files check). Only the
            # synthetic sf0.001 fixture carries a duplicated id
            # (DIVERGENCES §6); there we keep the multiplicity-exact
            # row-level path so dup copies flow like the oracle SQL.
            if self._all_bfq(node) and self._file_ids_unique():
                return _semi(_where(files, [active]), self._ids(node))
            if isinstance(node, UnionOp):
                return _dedup(_union(fq(c) for c in node.children), "id")
            if isinstance(node, JoinOp):
                return reduce(_semi, [fq(c) for c in node.children])
            return _semi(fq(node.left), fq(node.right), "ANTI")

        if isinstance(node, (ParentsOf, ChildrenOf)):
            near, far = (("child_id", "parent_id")
                         if isinstance(node, ParentsOf)
                         else ("parent_id", "child_id"))
            hits = _semi(self._table("parent_child"), fq(node.child),
                         on=f"l.{near} = r.id")
            return _semi(files, f"SELECT {far} AS id FROM ({hits})")

        if isinstance(node, (SkipOp, LimitOp, OrderedOp)):
            return self._skip_limit(node, fq)

        if isinstance(node, FilterOp):
            from .filters import run_filter
            out = run_filter(self, node.name, node.params, node.kwparams,
                             [self.spark.sql(fq(c)) for c in node.children])
            return f"SELECT * FROM {self._temp(out)}"

        raise QueryError(f"cannot translate {node!r}")

    def _file_ids_unique(self) -> bool:
        """File-id uniqueness for the set-algebra fast path. Known
        catalogs carry the invariant with them (recorded at warehouse
        ingest as a table property; carried by DML, whose declare path
        enforces the PK and whose patch paths never add rows) — no job
        runs here. The groupBy probe remains only as a fallback for
        states whose files table came from elsewhere (an ad-hoc
        from_dataframes catalog, a durable restore); its answer is a
        fact about that state's tables, so it is kept on the state."""
        state = self.cat.current()
        if state.ids_unique is None:
            object.__setattr__(state, "ids_unique", (
                state.files.groupBy("id").count()
                .where(F.col("count") > 1).isEmpty()))
        return state.ids_unique

    def _all_bfq(self, node) -> bool:
        """True iff every leaf of a set-op tree is a BasicFileQuery
        (where-wrappers allowed) — the shape for which the retired
        filter commutes to the final scan."""
        if isinstance(node, (UnionOp, JoinOp)):
            return all(self._all_bfq(c) for c in node.children)
        if isinstance(node, MinusOp):
            return self._all_bfq(node.left) and self._all_bfq(node.right)
        if isinstance(node, WhereOp):
            return self._all_bfq(node.child)
        return isinstance(node, BasicFileQuery)

    def _ids(self, node) -> str:
        """Set algebra over id sets only, never materializing file rows:
        membership-only BFQs read just the membership table; predicate
        BFQs an id+predicate-pruned files scan. The retired filter is
        NOT applied here — the enclosing final files scan applies it
        once (exact for all-BFQ trees; see ``_fq``). Duplicate ids from
        overlapping selectors are tolerated without a dedup: semi/anti
        joins preserve sets, and the final semi-join emits each file
        row once."""
        if isinstance(node, UnionOp):
            return _union(self._ids(c) for c in node.children)
        if isinstance(node, JoinOp):
            return reduce(_semi, [self._ids(c) for c in node.children])
        if isinstance(node, MinusOp):
            return _semi(self._ids(node.left), self._ids(node.right), "ANTI")
        files = self._table("files")
        if isinstance(node, WhereOp):
            return _semi(f"SELECT id FROM {files} WHERE "
                         f"{self.file_pred.compile(node.exp)}",
                         self._ids(node.child))
        # BasicFileQuery leaf
        if node.where is None:
            return (self._membership(node.datasets) if node.datasets
                    else f"SELECT id FROM {files}")
        ids = (f"SELECT id FROM {files} WHERE "
               f"{self.file_pred.compile(node.where)}")
        return _semi(ids, self._membership(node.datasets)) \
            if node.datasets else ids

    @staticmethod
    def _skip_limit(node, fq) -> str:
        """Fold a contiguous skip/limit/ordered chain with the reference's
        merge law (mql10.py:39-45): innermost-first, skip adds and eats
        into a pending limit; limit takes the min. skip ⇒ ordered."""
        chain = []
        cur = node
        while isinstance(cur, (SkipOp, LimitOp, OrderedOp)):
            chain.append(cur)
            cur = cur.child
        skip, limit, ordered = 0, None, False
        for op in reversed(chain):  # innermost first
            if isinstance(op, SkipOp):
                skip += op.n
                if limit is not None:
                    limit = max(limit - op.n, 0)
            elif isinstance(op, LimitOp):
                limit = op.n if limit is None else min(limit, op.n)
            else:
                ordered = True
        out = f"SELECT * FROM ({fq(cur)})"
        if limit is not None and limit <= 0:
            return f"{out} LIMIT 0"
        if ordered or skip:
            out += " ORDER BY id"
        if limit is not None:
            out += f" LIMIT {limit}"
        return f"{out} OFFSET {skip}" if skip else out

    def _project_files(self, rows: str, with_meta: bool,
                       with_provenance: bool, after_id: Optional[str],
                       page_size: Optional[int]) -> str:
        # tolerate minimal sources (from_dataframes): project only the
        # canonical columns the backing table actually has
        have = self.cat.files.columns
        cols = [c for c in FILE_OUTPUT_COLUMNS if c in have]
        if with_meta and "metadata" in have:
            cols.append("metadata")
        out = f"SELECT {', '.join(cols)} FROM ({rows})"
        if with_provenance:
            out = self._provenance(out)
        if after_id is None and page_size is None:
            return out
        out = _where(out, [after_id is not None and f"id > {lit(after_id)}"])
        out += " ORDER BY id"
        return out if page_size is None else f"{out} LIMIT {int(page_size)}"

    def _provenance(self, rows: str) -> str:
        pc = self._table("parent_child")
        return (f"SELECT o.*, p.parents, c.children FROM ({rows}) o "
                f"LEFT JOIN (SELECT child_id AS id, collect_list(parent_id) "
                f"AS parents FROM {pc} GROUP BY child_id) p ON o.id = p.id "
                f"LEFT JOIN (SELECT parent_id AS id, collect_list(child_id) "
                f"AS children FROM {pc} GROUP BY parent_id) c ON o.id = c.id")

    def with_provenance(self, files: DataFrame) -> DataFrame:
        """``files`` plus each file's ``parents`` and ``children`` id
        lists (null when it has none)."""
        with self.cat.pin():  # holds the parent_child it binds
            return self.spark.sql(self._provenance(
                f"SELECT * FROM {self.cat.views.bind(files)}"))

    # -------------------------------------------------- dataset selection
    @staticmethod
    def _selector(sel: DatasetSelector, ns_col: str, name_col: str) -> str:
        if sel.namespace is None:
            raise QueryError(f"no namespace for dataset {sel.name!r}")
        if sel.kind == "pattern":
            return (f"({_glob(ns_col, sel.namespace)} AND "
                    f"{_glob(name_col, sel.name)})")
        op = "RLIKE" if sel.kind == "regexp" else "="
        return (f"({ns_col} = {lit(sel.namespace)} AND "
                f"{name_col} {op} {lit(sel.name)})")

    def _datasets(self, selectors) -> str:
        """SQL of the selected datasets' rows, each once: (namespace,
        name) is the key, so the selectors combine as one OR filter of a
        term each: its condition or ``_closure``, AND its `having`."""
        terms = []
        for sel in selectors:
            cond = self._selector(sel, "namespace", "name")
            if sel.with_subsets or sel.with_ancestors:
                cond = self._closure(cond, sel.recursively,
                                     up=sel.with_ancestors)
            if sel.having is not None:
                cond = f"({cond} AND {self.dataset_pred.compile(sel.having)})"
            terms.append(cond)
        return _where(self._table("datasets"), [" OR ".join(terms)])

    def _keys(self, rel: str) -> set:
        """The (namespace, name) pairs of ``rel``, a selection of the
        driver-held ``datasets``: collecting it runs no Spark job."""
        return {tuple(r) for r in self.spark.sql(
            f"SELECT namespace, name FROM {_from(rel)}").collect()}

    def _closure(self, cond: str, recursively: bool, up: bool) -> str:
        """An IN condition on ``datasets``: the datasets meeting ``cond``
        and their DAG neighbours (one step, or any number when
        ``recursively``), children for `with subsets` and parents when
        ``up`` (dbobjects2.py:1062-1122). A breadth-first walk, cycle-
        guarded, over the driver-held ``datasets_parent_child``: no job."""
        here, there = ("child", "parent") if up else ("parent", "child")
        near = {}
        for edge in self.cat.datasets_parent_child.select(
                f"{here}_namespace", f"{here}_name",
                f"{there}_namespace", f"{there}_name").collect():
            near.setdefault(tuple(edge[:2]), []).append(tuple(edge[2:]))
        seen = front = self._keys(_where(self._table("datasets"), [cond]))
        while front:
            front = {n for f in front for n in near.get(f, ())} - seen
            seen |= front
            if not recursively:
                break
        return _in("namespace, name", seen)

    def _membership(self, selectors) -> str:
        """File ids selected by dataset membership — reads ONLY the
        bucketed membership table (no files scan). A `with subsets`/
        `with ancestors` or `having` selection is resolved on the
        driver into an IN list of its dataset keys."""
        fd = self._table("files_datasets")
        key = ("dataset_namespace", "dataset_name")
        if any(s.with_subsets or s.with_ancestors or s.having is not None
               for s in selectors):
            cond = _in(", ".join(key), self._keys(self._datasets(selectors)))
        else:
            cond = " OR ".join(self._selector(s, *key) for s in selectors)
        return f"SELECT file_id AS id FROM {fd} WHERE {cond}"

    # ---------------------------------------------------------- summaries
    def _summary(self, df: DataFrame, kind: str) -> DataFrame:
        if kind == "keys":
            return (df.select(F.explode(F.json_object_keys("metadata"))
                              .alias("key"))
                    .distinct())
        if kind == "key-values":
            return self._summary_key_values(df)
        raise QueryError(f"unknown summary {kind!r}")

    # canonical (vtype, value-string) formatting per logical metadata
    # type — shared contract with the driver oracle (the oracle SQL in
    # __spark_entry__.py is generated from the same MetaSchema).
    _KV_VTYPE = {"int": "number", "float": "number", "str": "string",
                 "bool": "boolean"}

    @staticmethod
    def _kv_canonical(col: F.Column, mtype: str) -> F.Column:
        if mtype == "float":
            # fixed-scale decimal: identical text in Spark and DuckDB
            # (double→string would render 8.34192E8 vs 834192000.0)
            return col.cast("decimal(38,6)").cast("string")
        if mtype in ("int", "str", "bool"):
            return col.cast("string")
        return F.to_json(col)  # arrays/maps: compact JSON text

    def _summary_key_values(self, df: DataFrame) -> DataFrame:
        """Distinct (key, vtype, value) triples over the file set's
        metadata — the reference's ``jsonb_each`` summary
        (dbobjects2.py:390-404) with an explicit JSON type tag so
        non-scalar and scalar values keep faithful representations.
        Shredded keys are read from their typed columns (no JSON
        re-parse, stays in codegen); unshredded keys fall back to the
        JSON column."""
        schema = self.cat.file_meta
        structs = []
        for mk in schema.by_key.values():
            vtype = self._KV_VTYPE.get(
                mk.mtype, "object" if mk.is_map else "array")
            structs.append(F.struct(
                F.lit(mk.key).alias("key"), F.lit(vtype).alias("vtype"),
                self._kv_canonical(F.col(mk.column), mk.mtype)
                .alias("value")))
        parts = []
        if structs:
            kv = (df.select(F.explode(F.array(*structs)).alias("kv"))
                  .select("kv.*").where(F.col("value").isNotNull()))
            parts.append(kv)
        vcol = getattr(self.cat, "file_variant_column", None)
        if vcol and vcol in df.columns:
            # VARIANT mode: the variant value knows its own type, so
            # the summary reports the SAME typed vtype contract as the
            # shredded path instead of a flat 'json' (r7; verified by
            # the variant parity sweep). Dynamic per-key access via
            # try_variant_get with a concat'd path; number rendering
            # follows the shredded canonicalization — integers plain,
            # decimal-pointed numbers as decimal(38,6) text.
            shredded = list(schema.by_key)
            # the variant path grammar has NO escape sequences, and a
            # malformed path throws even under try_variant_get — so
            # quote the key with whichever quote character it does
            # not contain; a key holding BOTH kinds is inexpressible
            # and yields a NULL path → NULL value (dropped row),
            # never a crash (review r7: the old single-quote-only
            # concat crashed the whole summary on a key like it's)
            path_col = (F.when(
                ~F.col("key").contains("'"),
                F.concat(F.lit("$['"), F.col("key"), F.lit("']")))
                .when(~F.col("key").contains('"'),
                      F.concat(F.lit('$["'), F.col("key"),
                               F.lit('"]'))))
            vg = f"try_variant_get(`{vcol}`, __vpath, 'variant')"
            sch = F.expr(f"schema_of_variant({vg})")
            val_str = F.expr(f"cast({vg} as string)")
            # try_cast: ANSI mode would otherwise abort the whole
            # summary on a schema-free number outside decimal(38,6)
            # range (review r7); such values fall back to their raw
            # string rendering
            num_canon = F.expr(
                f"coalesce(cast(try_cast({vg} as decimal(38,6)) "
                f"as string), cast({vg} as string))")
            vtype = (F.when(F.startswith(sch, F.lit("ARRAY")), "array")
                     .when(F.startswith(sch, F.lit("OBJECT"))
                           | F.startswith(sch, F.lit("STRUCT"))
                           | F.startswith(sch, F.lit("MAP")), "object")
                     .when(sch == "STRING", "string")
                     .when(sch == "BOOLEAN", "boolean")
                     .otherwise(F.lit("number")))
            value = (F.when(sch.isin("BIGINT", "INT", "SMALLINT",
                                     "TINYINT"), val_str)
                     .when(vtype == "number", num_canon)
                     .otherwise(val_str))
            other = (df.select(
                F.col(vcol),
                F.explode(F.json_object_keys("metadata")).alias("key"))
                .where(~F.col("key").isin(shredded))
                .withColumn("__vpath", path_col)
                .select("key", vtype.alias("vtype"),
                        value.alias("value"))
                .where(F.col("value").isNotNull()))
            parts.append(other)
        elif "metadata" in df.columns:
            shredded = list(schema.by_key)
            # get_json_object cannot address keys containing a quote
            # at all (its path grammar has no workable quoting) — such
            # keys return NULL and their rows drop from the summary;
            # known limitation of this legacy JSON fallback (the
            # shredded and variant paths both handle them)
            other = (df.select(
                F.col("metadata"),
                F.explode(F.json_object_keys("metadata")).alias("key"))
                .where(~F.col("key").isin(shredded))
                .select("key", F.lit("json").alias("vtype"),
                        F.expr("get_json_object(metadata, "
                               "concat('$[\\'', key, '\\']'))")
                        .alias("value"))
                .where(F.col("value").isNotNull()))
            parts.append(other)
        return reduce(DataFrame.unionByName, parts).distinct()

    # --------------------------------------------------- aggregation API
    # count over a COLUMN counts non-null values (SQL count(col));
    # the None-column case maps to count(*) at the call site
    _AGG_FNS = {"count": F.count,
                "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
                "count_distinct": F.countDistinct,
                # exact percentile with linear interpolation — matches
                # DuckDB quantile_cont for oracle parity; use
                # percentile_approx in application code at 100 TB if
                # the full-sort cost of exactness isn't warranted
                "median": lambda c: F.percentile(c, F.lit(0.5))}

    def _resolve_value(self, key: str, numeric: bool = False):
        """(column, schema_free) for an attribute or dotted metadata
        key: schema_free marks values that arrive as STRINGS with no
        type information (JSON fallback / variant mode) — shared by
        the aggregation API and profile()."""
        if key in FILE_ATTRIBUTES:
            return F.col(key), False
        sql, mtype = self.file_pred._scalar_column(key)
        if mtype.startswith("variant:"):
            # variant mode: _scalar_column returns a NULL placeholder
            # (only _typed() materializes the getter) — extract as
            # string here, like the JSON fallback
            sql = self.file_pred._typed(sql, mtype, Const("str", None))
            mtype = "json"
        if numeric and mtype == "json":
            # schema-on-read string -> numeric for sum/avg/median
            # (ANSI mode rejects implicit string arithmetic;
            # try_cast nulls non-numeric values instead)
            return F.expr(f"try_cast({sql} AS DOUBLE)"), False
        return F.expr(sql), mtype == "json"

    def profile(self, text: str, keys: list,
                include_retired: bool = False,
                default_namespace: Optional[str] = None) -> DataFrame:
        """Numeric distribution profile of attributes / dotted
        metadata keys over a file set — the DuckDB-SUMMARIZE /
        pandas-describe companion to the GUI's value histogram
        (``_meta_stats`` buckets VALUES; this profiles
        DISTRIBUTIONS). One row per key:

            (key, n, n_null, min, max, avg, stddev, p25, p50, p75)

        computed in ONE scan + ONE aggregate (k×9 aggregate
        expressions, map-side combinable except the exact
        percentiles), then unpivoted with ``stack`` — no per-key
        jobs. Percentiles are exact linear interpolation (DuckDB
        quantile_cont parity — swap percentile_approx at 100 TB per
        the quality-gate contract); stddev is the sample form and
        NULL below two values (Spark's NaN is normalized so both
        engines agree). Every numeric resolves through the same
        shredded/JSON/variant machinery as predicates — schema-free
        string values try_cast to double, non-numerics profile as
        NULL."""
        df = self.file_set(text, include_retired, default_namespace)
        if not keys:
            raise QueryError("profile() needs at least one key")
        for k in keys:
            # key names are interpolated into the stack() SQL below —
            # restrict to the dotted-identifier alphabet so a quoted
            # or malformed key is a clean error, not a SQL parse
            # traceback
            if not re.fullmatch(r"[A-Za-z0-9_.\-]+", k):
                raise QueryError(f"profile(): bad key {k!r}")
        sel, aggs = [], [F.count("*").alias("_total")]
        for i, k in enumerate(keys):
            col, _ = self._resolve_value(k, numeric=True)
            c = F.col(f"_k{i}")
            sel.append(col.try_cast("double").alias(f"_k{i}"))
            aggs += [
                F.count(c).alias(f"n_{i}"),
                F.round(F.min(c), 6).alias(f"min_{i}"),
                F.round(F.max(c), 6).alias(f"max_{i}"),
                F.round(F.avg(c), 6).alias(f"avg_{i}"),
                F.when(F.count(c) > 1,
                       F.round(F.stddev_samp(c), 6))
                .alias(f"std_{i}"),
                F.round(F.percentile(c, F.lit(0.25)), 6)
                .alias(f"p25_{i}"),
                F.round(F.percentile(c, F.lit(0.5)), 6)
                .alias(f"p50_{i}"),
                F.round(F.percentile(c, F.lit(0.75)), 6)
                .alias(f"p75_{i}"),
            ]
        agged = df.select(*sel).agg(*aggs)
        parts = [
            (f"'{k}', n_{i}, _total - n_{i}, min_{i}, max_{i}, "
             f"avg_{i}, std_{i}, p25_{i}, p50_{i}, p75_{i}")
            for i, k in enumerate(keys)]
        return agged.selectExpr(
            f"stack({len(keys)}, {', '.join(parts)}) as "
            f"(key, n, n_null, min, max, avg, stddev, p25, p50, p75)")

    def aggregate(self, text: str, group_by: list,
                  aggs: dict, cube: bool = False,
                  include_retired: bool = False,
                  default_namespace: Optional[str] = None) -> DataFrame:
        """General aggregation over a file set — beyond-reference
        surface (the reference has only fixed summaries, SURVEY §2.7;
        Spark gives grouping sets/cube for free).

        group_by: attribute names or dotted metadata keys (resolved
        through the same shredded/JSON machinery as predicates).
        aggs: {output_alias: (fn, column)} with fn in
        count/sum/avg/min/max/count_distinct; column may be an
        attribute, a dotted metadata key, or None for count.
        """
        df = self.file_set(text, include_retired, default_namespace)
        resolve = self._resolve_value
        numeric_fns = {"sum", "avg", "median"}
        gnames = [k.replace(".", "_") for k in group_by]
        sel = [resolve(k)[0].alias(n) for k, n in zip(group_by, gnames)]
        schema_free = {}
        for alias, (fn, key) in aggs.items():
            if key is not None:
                col, free = resolve(key, fn in numeric_fns)
                sel.append(col.alias(f"_in_{alias}"))
                schema_free[alias] = free
        named = df.select(*sel)
        grouped = named.cube(*gnames) if cube else named.groupBy(*gnames)
        agg_cols = []
        for alias, (fn, key) in aggs.items():
            c = F.col(f"_in_{alias}")
            if key is None:
                agg_cols.append(F.count("*").alias(alias))
                continue
            if fn in ("min", "max") and schema_free.get(alias):
                # schema-free values are strings: a plain min/max
                # would order NUMBERS lexicographically ('99' > '499'
                # — the r7 variant-sweep finding). Order by a
                # type-aware key instead: numeric values compare as
                # numbers and sort BEFORE non-numeric strings (so a
                # purely numeric key gets numeric min/max; in a
                # mixed-type key, min favors numbers and max favors
                # strings — documented). Output stays the raw string.
                num = c.try_cast("double")
                ordk = F.when(c.isNotNull(), F.struct(
                    num.isNull().alias("s"), num.alias("n"),
                    c.alias("t")))
                agg_cols.append(
                    (F.min_by(c, ordk) if fn == "min"
                     else F.max_by(c, ordk)).alias(alias))
                continue
            agg_cols.append(self._AGG_FNS[fn](c).alias(alias))
        return grouped.agg(*agg_cols)

    # ------------------------------------------------------ file set core
    def file_set(self, text: str, include_retired: bool = False,
                 default_namespace: Optional[str] = None) -> DataFrame:
        """Full-schema (shredded) file set for internal composition."""
        top = parse(text, default_namespace=default_namespace)
        if not isinstance(top, FileQuery):
            raise QueryError("file_set() requires a file query")
        with self._compiling():
            return self.spark.sql(self._fq(top.tree, include_retired))
