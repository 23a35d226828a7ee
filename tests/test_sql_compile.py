"""One Spark SQL statement per query: a served read costs a handful of
py4j calls once its tables are bound, literals cannot change the
statement, and the catalog's temp views follow the live tables."""

import gc
import json
import re
import threading
from contextlib import contextmanager
from dataclasses import fields

import pytest
from pyspark.sql import DataFrame

from conftest import SF_DIR
from test_resident_layout import READS

import metacat_spark.engine as engine_mod
from metacat_spark.catalog import from_dataframes, from_tpch, local_rows
from metacat_spark.dml import DML
from metacat_spark.engine import Engine
from metacat_spark.schema import MetaSchema

# a served read's py4j calls once its tables are bound: the DataFrame
# builder it replaced made 76 (fids) to 345 (setop)
CALL_BUDGET = 10


@pytest.fixture(scope="module")
def cat(spark):
    return from_tpch(spark, SF_DIR)


def _py4j_calls(spark, fn) -> int:
    """py4j commands this thread sends while ``fn`` runs (py4j's own
    thread, which releases collected JVM objects, is not counted)."""
    client = spark.sparkContext._gateway._gateway_client
    send, count, me = client.send_command, [0], threading.current_thread()

    def counted(*a, **k):
        count[0] += threading.current_thread() is me
        return send(*a, **k)

    client.send_command = counted
    try:
        fn()
    finally:
        del client.send_command
    return count[0]


def test_served_reads_make_few_jvm_calls(spark, cat):
    eng = Engine(cat)
    ids = sorted(r["id"] for r in
                 eng.query("files from dune:urgent_0").collect())
    shapes = {**READS, "fids": (f"fids {', '.join(ids[1:4])}", {})}
    for shape, (mql, opts) in shapes.items():
        eng.query(mql, **opts)          # binds the tables it reads
        calls = _py4j_calls(spark, lambda: eng.query(mql, **opts))
        assert calls <= CALL_BUDGET, (shape, calls)


HOSTILE = ["it's", "back\\slash", 'double"quote', "back`tick",
           "dash--dash", "open/*comment", "new\nline", "${x}",
           "x' OR '1'='1", "tail\\"]


def _mql_str(value: str) -> str:
    return '"' + value.replace("\\", "\\\\").replace('"', '\\"') + '"'


@pytest.fixture(scope="module")
def hostile(spark):
    """A catalog whose file ids, file names, dataset names and string
    metadata values are the HOSTILE strings; each dataset is the
    subset of the one before it, and the first of the last (a cycle)."""
    rows = [(f"{i}:{v}", "hns", v, i, False, json.dumps({"t.k": v}))
            for i, v in enumerate(HOSTILE)]
    files = local_rows(spark, rows, ["id", "namespace", "name", "size",
                                     "retired", "metadata"])
    fd = local_rows(spark, [(r[0], "hns", r[2]) for r in rows],
                    ["file_id", "dataset_namespace", "dataset_name"])
    dpc = local_rows(spark, [("hns", p, "hns", c) for p, c in
                             zip(HOSTILE, HOSTILE[1:] + HOSTILE[:1])],
                     ["parent_namespace", "parent_name",
                      "child_namespace", "child_name"])
    return Engine(from_dataframes(spark, files, fd,
                                  datasets_parent_child=dpc,
                                  file_meta=MetaSchema([])))


@contextmanager
def _parser_mode(spark, escaped: str):
    """Run the block under ``spark.sql.parser.escapedStringLiterals`` =
    ``escaped``, with a session variable ``x`` that ``${x}`` would
    expand to."""
    conf = spark.conf
    before = conf.get("spark.sql.parser.escapedStringLiterals")
    conf.set("spark.sql.parser.escapedStringLiterals", escaped)
    conf.set("x", "substituted")
    try:
        yield
    finally:
        conf.set("spark.sql.parser.escapedStringLiterals", before)
        conf.unset("x")


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_literals_round_trip(spark, hostile, escaped):
    """Every hostile value selects exactly its own file and comes back
    unchanged, under both string-literal parser modes and with a
    session variable ``x`` that ``${x}`` would expand to."""
    with _parser_mode(spark, escaped):
        for i, v in enumerate(HOSTILE):
            fid, s = f"{i}:{v}", _mql_str(v)
            for mql in (f"files hns:{s}", f"fids {_mql_str(fid)}",
                        f"files where t.k = {s}",
                        f"files where t.k ~ {_mql_str(re.escape(v))}",
                        f"files from hns:{s} where t.k in ({s}, 'zz')"):
                rows = hostile.query(mql, with_meta=True).collect()
                assert [(r["id"], r["name"], json.loads(r["metadata"]))
                        for r in rows] == [(fid, v, {"t.k": v})], mql


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_closures_carry_hostile_names(spark, hostile, escaped):
    """A closure's datasets go into the query text as literals: around
    the cycle of hostile names, both directions reach every dataset
    under both string-literal parser modes."""
    with _parser_mode(spark, escaped):
        down = hostile.query(
            f"datasets hns:{_mql_str(HOSTILE[0])} with subsets recursively")
        up = hostile.query(f"files from hns:{_mql_str(HOSTILE[5])} "
                           "with ancestors recursively")
        assert sorted(r["name"] for r in down.collect()) == sorted(HOSTILE)
        assert sorted(r["id"] for r in up.collect()) == sorted(
            f"{i}:{v}" for i, v in enumerate(HOSTILE))


def _bound_views(spark, cat) -> set:
    return {r["viewName"] for r in spark.sql("SHOW VIEWS").collect()
            if r["viewName"].startswith(cat.views.prefix)}


def test_views_are_those_of_live_tables(spark):
    """After 20 writes, a collection and one read, the catalog's views
    are exactly those of the published state's bound tables."""
    cat = from_tpch(spark, SF_DIR)
    eng, dml = Engine(cat), DML(cat)
    mql = "union(files from test:all, parents(files from dune:urgent_0))"
    for i in range(20):
        dml.declare_files([{"id": f"vw{i}", "namespace": "test",
                            "name": f"vw{i}.dat"}])
        eng.query(mql)          # binds the new tables
    gc.collect()
    assert eng.query(mql).collect()
    state = cat.published
    tables = [getattr(state, f.name) for f in fields(state)]
    live = {cat.views.names[t] for t in tables
            if isinstance(t, DataFrame) and t in cat.views.names}
    assert len(live) == 3          # files, files_datasets, parent_child
    assert _bound_views(spark, cat) == live


def test_pinned_reader_keeps_its_views(spark, monkeypatch):
    """A reader pinned to a state that writes supersede still answers
    from it, while the writer's reads drop the views of the versions
    in between once they are collected."""
    cat = from_tpch(spark, SF_DIR)
    eng, dml = Engine(cat), DML(cat)
    mql = "files from test:all"
    want = sorted(r["id"] for r in eng.query(mql).collect())
    pinned = cat.published
    entered, release = threading.Event(), threading.Event()
    parse = engine_mod.parse

    def held(*a, **k):
        if not entered.is_set():
            entered.set()
            assert release.wait(300)
        return parse(*a, **k)

    monkeypatch.setattr(engine_mod, "parse", held)
    got = []
    reader = threading.Thread(target=lambda: got.append(sorted(
        r["id"] for r in eng.query(mql).collect())))
    reader.start()
    try:
        assert entered.wait(300)
        for i in range(2):
            dml.declare_files([{"id": f"pr{i}", "namespace": "test",
                                "name": f"pr{i}.dat"}],
                              dataset=("test", "all"))
            eng.query(mql)          # binds this version's tables
        gc.collect()
        assert len(eng.query(mql).collect()) == len(want) + 2
        live = {cat.views.names[t] for state in (pinned, cat.published)
                for t in (state.files, state.files_datasets)}
        assert len(live) == 4
        assert _bound_views(spark, cat) == live
    finally:
        release.set()
        reader.join(300)
    assert got == [want]


def test_concurrent_binds_name_each_table_once(spark):
    """Threads binding the same tables at once agree on one view per
    table, and every name they got has its view."""
    import sys

    from metacat_spark.catalog import _Views
    views = _Views()
    tables = [spark.range(i + 1) for i in range(4)]
    got, errors = [], []

    def bind_all():
        try:
            for _ in range(5):
                got.append([views.bind(t) for t in tables])
        except Exception as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=bind_all) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not errors and not any(t.is_alive() for t in threads)
    assert len(got) == 40 and all(names == got[0] for names in got)
    shown = {r["viewName"] for r in spark.sql("SHOW VIEWS").collect()
             if r["viewName"].startswith(views.prefix)}
    assert shown == {n.strip("`") for n in got[0]}


def _keys(df) -> set:
    """The file ids, else the (namespace, name) pairs, of ``df``'s rows."""
    cols = ["id"] if "id" in df.columns else ["namespace", "name"]
    return {tuple(r[c] for c in cols) for r in df.collect()}


_CLOSURE = "files from test:all with subsets recursively"
_FILTER = "filter limit(3)(files from dune:urgent_0)"


# each query binds a table after a filter output, its temporary: the
# provenance join, a union's next branch, a second filter's output.
# The closure cases bind no temporary since closures are walked on the
# driver; they stay as plain parity checks.
@pytest.mark.parametrize("mql, parts, opts", [
    (_FILTER, [_FILTER], {"with_provenance": True}),
    (f"union({_FILTER}, filter limit(2)(files from dune:urgent_1))",
     [_FILTER, "filter limit(2)(files from dune:urgent_1)"], {}),
    (f"union({_FILTER}, {_CLOSURE})", [_FILTER, _CLOSURE], {}),
    (_CLOSURE, [_CLOSURE], {"with_provenance": True}),
    (f"union({_FILTER}, files from dune:urgent_1)",
     [_FILTER, "files from dune:urgent_1"], {}),
    ("datasets test:all with subsets recursively, dune:urgent_0 with subsets",
     ["datasets test:all with subsets recursively",
      "datasets dune:urgent_0 with subsets"], {}),
    (f"union({_CLOSURE}, files from dune:urgent_0)",
     [_CLOSURE, "files from dune:urgent_0"], {}),
], ids=["filter-provenance", "two-filters", "filter-then-closure",
        "provenance", "filter-in-union", "two-closures", "closure-in-union"])
def test_temporaries_outlive_later_binds(spark, cat, mql, parts, opts):
    eng = Engine(cat)
    got = _keys(eng.query(mql, **opts))
    assert got == set().union(*(_keys(eng.query(p)) for p in parts))


def _bind_before_each_sql(spark, cat, eng, monkeypatch):
    """Make every ``spark.sql`` of ``eng`` first collect garbage and
    bind a table, as another request's bind would."""
    sql = spark.sql

    class BindFirst:
        def sql(self, text):
            gc.collect()
            cat.views.bind(spark.range(1))   # drops the queued views
            return sql(text)

        def __getattr__(self, name):
            return getattr(spark, name)

    monkeypatch.setattr(eng, "spark", BindFirst())


def test_temporaries_survive_another_requests_bind(spark, cat, monkeypatch):
    """Another request's bind can land between a query's compile and
    its one spark.sql, after its temporaries' last Python references
    are gone; the query still reads them."""
    eng = Engine(cat)
    want = _keys(eng.query(_CLOSURE))
    _bind_before_each_sql(spark, cat, eng, monkeypatch)
    assert _keys(eng.query(_CLOSURE)) == want
    assert ("test", "all") in _keys(eng.query(
        "datasets test:all with subsets recursively"))


def test_filter_outputs_survive_another_requests_bind(spark, cat,
                                                      monkeypatch):
    """A filter output, bound as a temporary, is still read when
    another request's bind lands before the query's spark.sql."""
    eng = Engine(cat)
    want = _keys(eng.query(_FILTER))
    _bind_before_each_sql(spark, cat, eng, monkeypatch)
    assert _keys(eng.query(_FILTER)) == want
