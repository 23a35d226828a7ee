"""Catalog: the engine's table registry.

Holds the metacat-shaped DataFrames (files, datasets, files_datasets,
parent_child, datasets_parent_child, namespaces, queries_tbl) and their
metadata schemas, as one immutable ``CatalogState`` that writers swap
once per mutation and requests pin once per request. ``from_tpch``
derives the tables from TPC-H-shaped parquet testdata via the
fixtures mapping and keeps the three big derived tables resident;
``from_materialized`` serves those three from bucketed warehouse
tables instead.
"""

from __future__ import annotations

import collections
import itertools
import json
import secrets
import threading
import weakref
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass, field, fields, replace
from typing import TYPE_CHECKING, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fixtures as FX
from .schema import DATASET_META, FILE_META, QUERY_META, MetaSchema

if TYPE_CHECKING:
    import pyarrow as pa

RAW_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]

# the file-keyed tables and the key each is laid out on: every
# membership, provenance and set-algebra join meets on file id. The
# warehouse buckets and sorts each table on its key
# (``materialize_tables``); the resident tables are hash-partitioned
# and sorted on it (``resident``).
FILE_KEYS = {"files": "id", "files_datasets": "file_id",
             "parent_child": "child_id"}


@dataclass(frozen=True, eq=False)
class CatalogState:
    """One published version of the catalog's tables. ``version``
    counts publishes: 0 for a new catalog, +1 for each published
    mutation, and the manifest's commit number after a durable
    attach. ``ids_unique`` is the file-id uniqueness invariant behind
    the engine's set-algebra fast path: True/False once known, None
    = unknown (probed on first use). The reference holds it by PK
    construction (schema.sql:45-63); warehouse ingest records it as a
    table property and DML carries it across its writes."""
    version: int
    files: DataFrame
    files_datasets: DataFrame
    parent_child: DataFrame
    datasets: DataFrame
    datasets_parent_child: DataFrame
    namespaces: DataFrame
    queries_tbl: DataFrame
    # reference parameter_categories table (schema.sql:162-176); DML
    # validates against the rules here. None = DEFAULT_CATEGORIES.
    parameter_categories: Optional[DataFrame] = None
    ids_unique: Optional[bool] = None


class _Draft:
    """A writer's view: the state it opened from plus the tables it
    has replaced so far."""

    def __init__(self, base: CatalogState):
        self.base, self.tables = base, {}

    def __getattr__(self, name):
        return self.tables.get(name, getattr(self.base, name))


# numbers every temp view this process binds, so no name is reused
_VIEW_IDS = itertools.count()


class _Views:
    """Temp-view names for a catalog's tables, so that one ``spark.sql``
    text can read them. A table is bound once: its view is named after
    the DataFrame object (the catalog's token plus a process-wide
    number, never reused), so a name always means the same table,
    states that share a table share its view, and no request registers
    a table again. When a bound DataFrame is collected its finalizer
    only queues the name; the next bind drops the queued views."""

    def __init__(self):
        self.prefix = f"mc_{secrets.token_hex(4)}_"
        self.names = weakref.WeakKeyDictionary()
        self._dead = collections.deque()
        self._lock = threading.Lock()

    def bind(self, df: DataFrame) -> str:
        """The quoted name of the temp view over ``df``."""
        with self._lock:
            while self._dead:
                df.sparkSession.catalog.dropTempView(self._dead.popleft())
            name = self.names.get(df)
            if name is None:
                name = f"{self.prefix}{next(_VIEW_IDS)}"
                df.createTempView(name)
                self.names[df] = name
                weakref.finalize(df, self._dead.append, name)
        return f"`{name}`"


# the state each catalog's reads see in this context — a request's pin
# or a writer's draft — keyed by id(catalog)
_PINS: ContextVar[dict] = ContextVar("metacat_catalog_pins", default={})


@dataclass(eq=False)
class Catalog:
    """The engine's table registry: fixed configuration (session,
    metadata schemas, raw tables) plus the ``published`` state.

    Reading a table (``cat.files``, ...) sees the state pinned in the
    current context, else the published one. A request pins once
    (``pin``) so every table it reads comes from one version, even
    while a writer publishes beside it. Writers run in ``write``
    blocks and replace tables with ``stage``; the outermost block
    publishes them as one new version. ``publish`` swaps in tables
    directly (a durable attach, an ad-hoc replacement). ``views``
    names a temp view over each table the engine's SQL reads."""
    spark: SparkSession
    published: CatalogState
    file_meta: MetaSchema = field(default_factory=lambda: FILE_META)
    dataset_meta: MetaSchema = field(default_factory=lambda: DATASET_META)
    query_meta: MetaSchema = field(default_factory=lambda: QUERY_META)
    raw: dict = field(default_factory=dict)
    # when set, file predicates resolve through this native
    # VariantType column instead of shredded columns / JSON-string
    # fallback (the variant warehouse mode; see materialize_tables)
    file_variant_column: Optional[str] = None
    # n: the partition count every laid-out file-keyed table has (see
    # ``resident``); a warehouse catalog's is its bucket count
    partitions: int = 1
    views: _Views = field(default_factory=_Views)
    _lock: threading.RLock = field(default_factory=threading.RLock)

    def current(self) -> CatalogState:
        """The state reads see here: this context's pin or draft, else
        the published state."""
        return _PINS.get().get(id(self), self.published)

    @contextmanager
    def pin(self):
        """Read one state for the whole block. Nested pins (and a
        writer's draft) keep the state already pinned."""
        pins = _PINS.get()
        state = pins.get(id(self), self.published)
        token = _PINS.set({**pins, id(self): state})
        try:
            yield state
        finally:
            _PINS.reset(token)

    @contextmanager
    def write(self):
        """One mutation, serialised against every other writer on this
        catalog; yields whether this is the outermost block. Reads in
        the block see a draft of the published state and ``stage``
        replaces its tables. The outermost block publishes the draft
        once as it exits, also when it raised: a composite mutation
        that failed partway keeps what it applied. Nested blocks
        share the outer draft."""
        with self._lock:
            if isinstance(_PINS.get().get(id(self)), _Draft):
                yield False
                return
            draft = _Draft(self.published)
            token = _PINS.set({**_PINS.get(), id(self): draft})
            try:
                yield True
            finally:
                _PINS.reset(token)
                # ids_unique carries over: no DML write adds a duplicate
                # file id (declare_files enforces the PK)
                self.publish(ids_unique=draft.ids_unique, **draft.tables)

    def stage(self, **tables: DataFrame) -> None:
        """Replace tables on the draft of the enclosing ``write``
        (outside one there is no draft to stage on, and this raises)."""
        _PINS.get()[id(self)].tables.update(tables)

    def publish(self, version: Optional[int] = None, **changes) -> None:
        """Publish the current state with ``changes`` (tables and/or
        ``ids_unique``) as the next version, or as ``version``. A
        replaced ``files`` table makes ``ids_unique`` unknown unless
        it is given. Changes that replace nothing publish nothing."""
        with self._lock:
            cur = self.published
            if "files" in changes:
                changes.setdefault("ids_unique", None)
            if all(getattr(cur, k) is v for k, v in changes.items()):
                return
            version = cur.version + 1 if version is None else version
            self.published = replace(cur, version=version, **changes)

    def resident(self, name: str, df: DataFrame, derived: bool = False,
                 eager: bool = False) -> DataFrame:
        """``df`` made resident as file-keyed table ``name``, laid out
        on its key in ``partitions`` partitions (see ``resident``).
        ``derived``: ``df`` is a filter of the table ``name`` reads
        now, so its rows keep that table's layout and are not moved
        again."""
        return resident(df, FILE_KEYS[name], self.partitions,
                        getattr(self, name) if derived else None, eager)

    def append(self, name: str, delta: DataFrame,
               drop: Optional[F.Column] = None,
               eager: bool = False) -> DataFrame:
        """File-keyed table ``name`` without its ``drop`` rows, plus
        ``delta``'s rows, resident (see ``append``)."""
        return append(getattr(self, name), delta, FILE_KEYS[name],
                      self.partitions, drop, eager)

    def named_query_source(self, namespace: str, name: str) -> Optional[str]:
        rows = (self.queries_tbl
                .where((F.col("namespace") == namespace) & (F.col("name") == name))
                .select("source").limit(1).collect())
        return rows[0][0] if rows else None


for _f in fields(CatalogState):  # cat.files, cat.version, ...
    setattr(Catalog, _f.name, property(
        lambda self, _name=_f.name: getattr(self.current(), _name)))


def _meta_json_column(schema: MetaSchema) -> F.Column:
    """metadata as a JSON string with dotted keys; null-valued (missing)
    keys are omitted (Spark's to_json ignoreNullFields default)."""
    return F.to_json(F.struct(*[
        F.col(mk.column).alias(mk.key) for mk in schema.by_key.values()
    ]))


def with_requirements(datasets: DataFrame,
                      requirements: Optional[dict] = None) -> DataFrame:
    """``datasets`` with its ``file_metadata_requirements`` column: the
    metadata every file joining the dataset must satisfy, as a JSON
    string (null = none; dbobjects2.py:1577-1597). A table without the
    column gets ``requirements`` (``{"namespace\\tname": dict}``, the
    form older durable roots kept them in), else nulls."""
    if "file_metadata_requirements" in datasets.columns:
        return datasets
    col = F.lit(None).cast("string")
    if requirements:
        col = F.create_map(*[F.lit(x) for k, v in requirements.items()
                             for x in (k, json.dumps(v))])[
            F.concat_ws("\t", "namespace", "name")]
    return datasets.withColumn("file_metadata_requirements", col)


def from_dataframes(spark: SparkSession, files: DataFrame,
                    files_datasets: DataFrame,
                    parent_child: Optional[DataFrame] = None,
                    datasets: Optional[DataFrame] = None,
                    datasets_parent_child: Optional[DataFrame] = None,
                    namespaces: Optional[DataFrame] = None,
                    queries_tbl: Optional[DataFrame] = None,
                    file_meta: Optional[MetaSchema] = None) -> Catalog:
    """Source-agnostic construction: any Spark-readable source (parquet,
    JSON, CSV, JDBC, Delta, a stream sink...) can back the catalog —
    callers provide DataFrames with the canonical columns. ``files``
    needs at minimum (id, namespace, name, size, retired, metadata);
    unshredded deployments can pass ``file_meta=MetaSchema([])`` and
    every predicate runs through the JSON/variant fallback path."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def _empty(cols: list[str]):
        return local_rows(spark, [], T.StructType(
            [T.StructField(c, T.StringType()) for c in cols]))

    if datasets is None:
        datasets = files_datasets.select(
            F.col("dataset_namespace").alias("namespace"),
            F.col("dataset_name").alias("name")).distinct().withColumns({
                "frozen": F.lit(False), "monotonic": F.lit(False),
                "creator": F.lit(None).cast("string"),
                "description": F.lit(None).cast("string"),
                "created_timestamp": F.lit(None).cast("timestamp"),
                "metadata": F.lit("{}")})
    return Catalog(spark, CatalogState(
        0, files, files_datasets,
        parent_child if parent_child is not None
        else _empty(["parent_id", "child_id"]),
        with_requirements(datasets),
        datasets_parent_child if datasets_parent_child is not None
        else _empty(["parent_namespace", "parent_name",
                     "child_namespace", "child_name"]),
        namespaces if namespaces is not None
        else files.select(F.col("namespace").alias("name")).distinct()
            .withColumn("owner_user", F.lit(None).cast("string")),
        queries_tbl if queries_tbl is not None
        else _empty(["namespace", "name", "source", "creator",
                     "description", "metadata"])),
        file_meta=FILE_META if file_meta is None else file_meta,
        partitions=_partitions_for(files))


def materialize_tables(spark: SparkSession, sf_dir: str,
                       buckets: int = 32, variant: bool = False) -> None:
    """One-time ingest: persist the big fixture tables as bucketed,
    id-sorted parquet tables (files ⋈ files_datasets ⋈ parent_child all
    join on file id). Bucketing co-locates the join keys so membership
    and provenance semi-joins run shuffle-free; sorting gives min/max
    row-group skipping on id point-lookups. This mirrors how a real
    deployment would own its storage (the reference's PostgreSQL heap +
    indexes, re-expressed as Spark-managed layout).

    ``variant=True`` additionally builds the VARIANT-mode files table:
    metadata stored as ONE native Spark-4 VariantType column
    (``metadata_v``) with no shredded m_* columns — the schema-free
    alternative a deployment with unpredictable metadata keys would
    pick. Predicate-cost trade-off measured in docs/SCALING.md."""
    _read_raw(spark, sf_dir)
    derived = dict(zip(FILE_KEYS, _derived_tables(spark)))
    suffix = _suffix(sf_dir)
    specs = [(df, f"{_WAREHOUSE[name]}_{suffix}", FILE_KEYS[name])
             for name, df in derived.items()]
    if variant:
        shredded = [mk.column for mk in FILE_META.by_key.values()]
        files_v = (derived["files"].drop(*shredded)
                   .withColumn("metadata_v", F.parse_json("metadata")))
        specs.append((files_v, f"mcw_files_var_{suffix}", FILE_KEYS["files"]))
    for df, table, key in specs:
        if not spark.catalog.tableExists(table):
            # the default in-memory catalog forgets tables between
            # sessions while their warehouse directories persist —
            # clear any orphaned location before re-ingesting
            import shutil
            loc = (spark.conf.get("spark.sql.warehouse.dir")
                   .removeprefix("file:"))
            shutil.rmtree(f"{loc}/{table}", ignore_errors=True)
            (df.write.bucketBy(buckets, key).sortBy(key)
             .format("parquet").mode("overwrite").saveAsTable(table))
    # record the id-uniqueness invariant at ingest (one aggregation,
    # paid once per warehouse build — not on a user's first set-op
    # query); backfills warehouses built before the property existed
    _ensure_ids_unique_property(spark, f"mcw_files_{suffix}")


_WAREHOUSE = {"files": "mcw_files", "files_datasets": "mcw_fd",
              "parent_child": "mcw_pc"}
_IDS_UNIQUE_PROP = "metacat.ids_unique"


def _ids_unique_property(spark: SparkSession, table: str) -> Optional[bool]:
    """Read the persisted invariant; metadata-only, no Spark job."""
    props = {r["key"]: r["value"] for r in
             spark.sql(f"SHOW TBLPROPERTIES {table}").collect()}
    v = props.get(_IDS_UNIQUE_PROP)
    return None if v is None else v == "true"


def _ensure_ids_unique_property(spark: SparkSession, table: str) -> bool:
    known = _ids_unique_property(spark, table)
    if known is None:
        known = (spark.table(table).groupBy("id").count()
                 .where(F.col("count") > 1).isEmpty())
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES "
                  f"('{_IDS_UNIQUE_PROP}'='{str(known).lower()}')")
    return known


def _bucket_count(spark: SparkSession, table: str) -> int:
    """A bucketed warehouse table's bucket count; metadata-only."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return next(int(r["data_type"]) for r in rows
                if r["col_name"] == "Num Buckets")


def from_materialized(spark: SparkSession, sf_dir: str,
                      variant: bool = False) -> Catalog:
    """Catalog over the bucketed warehouse tables (ingest must have
    run). Small literal tables stay in-memory. ``variant=True`` serves
    file predicates from the native VariantType table (no shredded
    columns — variant_get paths compile instead)."""
    materialize_tables(spark, sf_dir, variant=variant)
    suffix = _suffix(sf_dir)
    files = spark.table(f"mcw_files_var_{suffix}" if variant
                        else f"mcw_files_{suffix}")
    # invariant recorded at ingest — the engine's set-algebra fast
    # path needs no first-query probe over the files table. A table a
    # write replaces is laid out at the bucket count, so it stays
    # co-partitioned with the bucketed tables the write left alone.
    cat = _fixture_catalog(spark, _read_raw(spark, sf_dir), files,
                           spark.table(f"mcw_fd_{suffix}"),
                           spark.table(f"mcw_pc_{suffix}"),
                           _ids_unique_property(spark,
                                                f"mcw_files_{suffix}"),
                           _bucket_count(spark, f"mcw_files_{suffix}"))
    if variant:
        cat.file_meta = MetaSchema([])
        cat.file_variant_column = "metadata_v"
    return cat


def from_tpch(spark: SparkSession, sf_dir: str) -> Catalog:
    """Catalog over the raw testdata, its three derived tables resident
    and laid out on their file-id keys (see ``resident``): computed here,
    so queries read the cached rows instead of re-deriving them from
    parquet. They are computed eagerly because a lazy checkpoint is cut
    from its lineage only by a job that collects it: a table only ever
    streamed partition-wise (``toLocalIterator``, which every served
    read of an n > 1 catalog uses) would keep its derivation's
    shuffle stage in every job that reads it."""
    raw = _read_raw(spark, sf_dir)
    derived = dict(zip(FILE_KEYS, _derived_tables(spark)))
    n = _partitions_for(derived["files"])
    return _fixture_catalog(
        spark, raw, *(resident(df, FILE_KEYS[name], n, eager=True)
                      for name, df in derived.items()), partitions=n)


def _partitions_for(files: DataFrame) -> int:
    """A catalog's layout partition count: one per advisory partition
    size (``spark.sql.adaptive.advisoryPartitionSizeInBytes``) of the
    files plan's size estimate, at least 1 and at most
    ``spark.sql.shuffle.partitions`` (what a shuffle on the key would
    use; it also bounds a plan with no estimate). Every streamed read
    runs one job per partition, so a small catalog keeps one."""
    spark = files.sparkSession
    target = _sql_conf(spark, "ADVISORY_PARTITION_SIZE_IN_BYTES")
    size = int(files._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    return max(1, min(-(-size // target),
                      _sql_conf(spark, "SHUFFLE_PARTITIONS")))


def resident(df: DataFrame, key: str, n: int = 1,
             like: Optional[DataFrame] = None,
             eager: bool = False) -> DataFrame:
    """Make file-keyed table ``df`` a localCheckpoint: an RDD leaf
    computed by the first query that touches it (or now, if ``eager``)
    and cached after, so later queries neither re-derive nor re-analyze
    its lineage. Every version of a file-keyed table a request reads is
    resident — the fixture catalog's derived tables, each DML mutation's
    result (otherwise mutation history would pile plan nodes onto every
    later query) and each table a durable restore replays. The cost is
    executor memory for the rows (spilling to local disk under
    pressure). The small tables are never checkpointed: every version
    of one is a local relation built on the driver.

    The table gets the warehouse's layout in memory: rows
    hash-partitioned on ``key`` into ``n`` partitions (Spark's Murmur3,
    as ``repartition`` and ``bucketBy`` place them) and sorted by it
    within each. The checkpoint declares that layout, so joins on the
    key between such tables (and bucketed ones of ``n`` buckets) plan
    with no Exchange and no Sort: a membership, set-algebra or count
    read is one Spark job. ``like``: a table whose partitions ``df``'s
    rows follow (``df`` is a filter or patch of it); if it is laid out
    the same way, the rows are not moved again. Warehouse tables stay
    plain scans, to keep their bucketing and pushdown, until a mutation
    replaces them."""
    if _layout(like) != (key, n):
        df = _place(df, key, n)
    return _declare(df.localCheckpoint(eager=eager), key, n)


def append(table: DataFrame, delta: DataFrame, key: str, n: int = 1,
           drop: Optional[F.Column] = None,
           eager: bool = False) -> DataFrame:
    """``table`` plus ``delta``'s rows, resident and laid out on ``key``
    in ``n`` partitions (see ``resident``). ``drop``: the rows of
    ``table`` that ``delta`` replaces, filtered out before the union (a
    point write's old rows). A laid-out table is not shuffled again:
    only the delta is placed, partition by partition beside the table's
    rows, and each partition re-sorted."""
    # null-safe: a filter that implies a non-null key (``NOT id = x``)
    # makes the key non-nullable in the base's output, and Spark then
    # unions the two inputs' partitions end to end, not pairwise
    base = (table if drop is None
            else table.where(~F.coalesce(drop, F.lit(False))))
    if _layout(table) != (key, n) or (n > 1 and not _sql_conf(
            table.sparkSession, "UNION_OUTPUT_PARTITIONING")):
        return resident(base.unionByName(delta), key, n, eager=eager)
    if n == 1:
        both = base.unionByName(delta).coalesce(1)
    else:
        # co-partitioned union inputs union partition by partition
        both = base.unionByName(delta.repartition(n, key))
    return resident(both.sortWithinPartitions(key), key, n, like=table,
                    eager=eager)


def _place(df: DataFrame, key: str, n: int) -> DataFrame:
    """``df``'s rows hash-partitioned on ``key`` into ``n`` partitions
    and sorted by it within each; one partition needs no shuffle."""
    placed = df.coalesce(1) if n == 1 else df.repartition(n, key)
    return placed.sortWithinPartitions(key)


def _sql_conf(spark: SparkSession, entry: str):
    """The session's value of the SQLConf entry named ``entry``."""
    return spark._jsparkSession.sessionState().conf().getConf(
        getattr(_jvm_class(spark, "org.apache.spark.sql.internal.SQLConf"),
                entry)())


def _jvm_class(spark: SparkSession, name: str):
    """The JVM class ``name``, looked up in one gateway call (walking
    ``spark._jvm.org.apache...`` costs one call per name part)."""
    from py4j.java_gateway import JavaClass
    return JavaClass(name, spark.sparkContext._gateway._gateway_client)


def _declare(checkpoint: DataFrame, key: str, n: int) -> DataFrame:
    """``checkpoint`` (a fresh localCheckpoint whose rows are laid out)
    declaring ``HashPartitioning(key, n)`` and ascending ``key`` order
    on its LogicalRDD. One partition is hash-placed on every column, so
    at n = 1 parent_child also declares ``parent_id``, for the parents
    and children hops. Under AQE the checkpoint records no partitioning
    of its own (the adaptive plan declares none), and
    ``repartition(1, key)`` reports SinglePartition, which a join
    cannot reuse; so the layout is built here from the key alone,
    without planning the input. The declared table drops the size
    estimate its input plan had, so Catalyst never broadcasts it: read
    in place beside a co-partitioned table it costs no job of its own,
    and a broadcast costs one."""
    spark = checkpoint.sparkSession
    seq = spark._jvm.PythonUtils.toSeq

    def scala(name: str):
        return _jvm_class(spark, "org.apache.spark.sql." + name)

    def singleton(name: str):
        return getattr(scala(f"catalyst.expressions.{name}$"), "MODULE$")

    rel = checkpoint._jdf.queryExecution().analyzed()
    out = rel.output()
    def hashed(name: str):
        attr = next(a for a in (out.apply(i) for i in range(out.size()))
                    if a.name() == name)
        return attr, scala("catalyst.plans.physical.HashPartitioning")(
            seq([attr]), n)

    attr, partitioning = hashed(key)
    if n == 1 and key == "child_id":
        partitioning = scala(
            "catalyst.plans.physical.PartitioningCollection")(seq([
                partitioning, hashed("parent_id")[1]]))
    order = scala("catalyst.expressions.SortOrder")(
        attr, singleton("Ascending"), singleton("NullsFirst"), seq([]))
    args = rel.otherCopyArgs()
    laid_out = rel.copy(out, rel.rdd(), partitioning, seq([order]),
                        rel.isStreaming(), rel.stream(), args.apply(0),
                        _jvm_class(spark, "scala.Option").empty(),
                        args.apply(2))
    return DataFrame(scala("classic.Dataset").ofRows(
        spark._jsparkSession, laid_out), spark)


def _layout(df: Optional[DataFrame]) -> Optional[tuple[str, int]]:
    """(key, n) of a table ``resident`` laid out, else None; reads the
    analyzed plan only."""
    if df is None:
        return None
    rel = df._jdf.queryExecution().analyzed()
    if rel.getClass().getSimpleName() != "LogicalRDD":
        return None
    part = rel.outputPartitioning()
    if part.getClass().getSimpleName() == "PartitioningCollection":
        part = part.partitionings().apply(0)   # the layout key's
    if part.getClass().getSimpleName() != "HashPartitioning":
        return None
    return part.expressions().apply(0).name(), part.numPartitions()



def arrow_rows(rows: list,
               schema: "T.StructType | list[str]") -> pa.Table:
    """Rows held by the driver as one Arrow table. ``schema`` is a
    StructType (every field made nullable, each typed as Spark's Arrow
    conversion types it) or column names whose types Arrow infers from
    the values."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, T.StructType):
        arrow = to_arrow_schema(T.StructType(
            [T.StructField(f.name, f.dataType) for f in schema.fields]))
        return pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], type=f.type)
             for i, f in enumerate(arrow)], schema=arrow)
    return pa.Table.from_arrays(
        [pa.array([r[i] for r in rows]) for i in range(len(schema))],
        names=list(schema))


def local_rows(spark: SparkSession, rows: list,
               schema: "T.StructType | list[str]") -> DataFrame:
    """Rows held by the driver (a fixture's literal table, a request's
    delta) as an Arrow-built LocalRelation (``arrow_rows``): the rows
    travel inside the plan, so a query over them alone runs no Spark
    job and no Python worker re-pickles them, unlike
    ``createDataFrame(list)``'s RDD. In a distributed plan the relation
    splits into min(rows, cores) partitions."""
    return spark.createDataFrame(arrow_rows(rows, schema))


def _suffix(sf_dir: str) -> str:
    return sf_dir.rstrip("/").split("/")[-1].replace(".", "_")


def _read_raw(spark: SparkSession, sf_dir: str) -> dict:
    """The raw testdata tables present under ``sf_dir``, registered as
    temp views. An absent table is skipped by an existence check (the
    Hadoop filesystem, so URIs work); one present but unreadable
    raises."""
    # epoch-seconds derivations (core.timestamp) interpret NTZ
    # timestamps in the session timezone; pin UTC so results are
    # identical under externally-created sessions (incl. the driver's).
    # nanosAsLong lets the TIMESTAMP(NANOS) events table register.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    raw = {}
    for t in RAW_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        p = jvm.org.apache.hadoop.fs.Path(path)
        if not p.getFileSystem(conf).exists(p):
            continue
        raw[t] = spark.read.parquet(path)
        raw[t].createOrReplaceTempView(t)
    return raw


def _derived_tables(
        spark: SparkSession) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Lazy (files, files_datasets, parent_child) over the raw temp
    views ``_read_raw`` registers."""
    files = spark.sql(FX.files_sql(FX.SPARK))
    files = (files
             .withColumn("metadata", _meta_json_column(FILE_META))
             .withColumn("checksums",
                         F.create_map(F.lit("adler32"),
                                      F.substring(F.md5(F.col("id")), 1, 8)))
             .withColumn("updated_by", F.lit(None).cast("string"))
             .withColumn("updated_timestamp", F.lit(None).cast("timestamp"))
             .withColumn("retired_by",
                         F.when(F.col("retired"), F.lit("admin")))
             .withColumn("retired_timestamp",
                         F.when(F.col("retired"), F.col("created_timestamp"))))
    return (files, spark.sql(FX.files_datasets_sql(FX.SPARK)),
            spark.sql(FX.parent_child_sql(FX.SPARK)))


def _fixture_catalog(spark: SparkSession, raw: dict, files: DataFrame,
                     files_datasets: DataFrame, parent_child: DataFrame,
                     ids_unique: Optional[bool] = None,
                     partitions: int = 1) -> Catalog:
    """The catalog over the given big three plus the fixtures' small
    literal tables."""
    datasets = local_rows(spark, FX.DATASET_ROWS, FX.DATASET_COLUMNS)
    datasets = (datasets
                .withColumn("created_timestamp",
                            F.lit("2023-01-15 00:00:00").cast("timestamp"))
                .withColumn("metadata", _meta_json_column(DATASET_META)))
    ds_pc = local_rows(spark, FX.DS_EDGE_ROWS, FX.DS_EDGE_COLUMNS)
    namespaces = local_rows(spark, FX.NAMESPACE_ROWS, FX.NAMESPACE_COLUMNS)
    queries_tbl = local_rows(spark, FX.QUERY_ROWS, FX.QUERY_COLUMNS)
    queries_tbl = queries_tbl.withColumn(
        "metadata", _meta_json_column(QUERY_META))

    from .validation import CATEGORY_COLUMNS, category_rows
    param_cats = local_rows(spark, category_rows(), CATEGORY_COLUMNS)
    return Catalog(spark, CatalogState(
        0, files, files_datasets, parent_child, with_requirements(datasets),
        ds_pc, namespaces, queries_tbl, param_cats, ids_unique), raw=raw,
        partitions=partitions)
