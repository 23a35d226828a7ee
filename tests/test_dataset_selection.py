"""Dataset selections resolve on the driver. ``(namespace, name)`` is
the key of ``datasets``, a driver-held table, so the selectors of a
dataset query combine as one OR filter (no union, no dedup) and run no
Spark job; a ``files from`` whose selectors need resolving (``with
subsets``/``with ancestors``, ``having``) reads ``files_datasets`` with
the selected keys as one IN list, in one job."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from conftest import spark_jobs

from metacat_spark.client import MetaCatSparkClient
from metacat_spark.dml import DML
from metacat_spark.engine import Engine
from metacat_spark.mql import parse

# dataset query lists: plain, globbed, regexp, `having` (on one
# selector of several), closures both ways and around the
# dune:low_0 <-> dune:low_1 cycle, overlaps, and empty selections
SELECTIONS = [
    "dune:urgent_0",
    "matching dune:*",
    "matching dune:urgent_*, dune:urgent_0",
    'matching regexp dune:"^(urgent|low)_[01]$"',
    'matching dune:* having data.type = "mc"',
    'matching dune:* having data.type = "mc", test:all',
    "test:all with subsets",
    "test:all with subsets recursively",
    "dune:urgent_0 with ancestors recursively",
    "dune:low_0 with subsets recursively",
    'mc:flag_r with subsets having detector.id = "near", '
    "dune:urgent_0 with ancestors",
    "test:all with subsets recursively, matching mc:*",
    "matching *:*",
    "matching *:flag_?",
    "nosuch:x with subsets recursively",
    "nosuch:x",
]

# dataset and named-query queries, none of which should run a job
LOCAL_QUERIES = [
    "datasets matching dune:*",
    'datasets matching regexp dune:"^(urgent|low)_[01]$"',
    'datasets matching dune:* having data.type = "mc"',
    "datasets test:all with subsets",
    "datasets test:all with subsets recursively",
    "datasets dune:urgent_0 with ancestors recursively",
    "datasets matching dune:urgent_*, dune:urgent_0, "
    "mc:flag_r with subsets having detector.id = near",
    "queries matching dune:*",
]

RESOLVED_FILE_QUERIES = [
    "files from test:all with subsets recursively",
    'files from dune:* having data.type = "mc"',
]


@pytest.fixture(scope="module", params=["unwritten", "written"])
def cat(request, catalog):
    """The fixture catalog, and a second catalog over its state after
    a dataset create, a subset edge and a metadata update."""
    if request.param == "unwritten":
        return catalog
    c = dataclasses.replace(catalog)
    dml = DML(c)
    dml.create_dataset("test", "sel_new", metadata={"data.type": "mc"})
    dml.add_subset("mc", "flag_r", "test", "sel_new")
    dml.update_dataset("dune", "urgent_0", metadata={"data.type": "mc"})
    return c


@pytest.fixture(scope="module")
def client(spark, cat):
    c = MetaCatSparkClient(spark, catalog=cat)
    yield c
    c._pool.shutdown(wait=True)


def _union_dedup(spark, eng, selection: str) -> list:
    """The (namespace, name) keys the selection had as the UNION ALL
    of one branch per selector (its condition, or its closure, then
    its own `having`) deduplicated by row_number: the oracle."""
    cat = eng.cat
    view = cat.views.bind(cat.datasets)
    branches = []
    for sel in parse(f"datasets {selection}").selectors:
        cond = Engine._selector(sel, "namespace", "name")
        if sel.with_subsets or sel.with_ancestors:
            cond = eng._closure(cond, sel.recursively, up=sel.with_ancestors)
        rows = f"SELECT * FROM {view} WHERE {cond}"
        if sel.having is not None:
            rows = (f"SELECT * FROM ({rows}) WHERE "
                    f"{eng.dataset_pred.compile(sel.having)}")
        branches.append(rows)
    union = " UNION ALL ".join(f"SELECT * FROM ({b})" for b in branches)
    return sorted(tuple(r) for r in spark.sql(
        "SELECT namespace, name FROM (SELECT *, row_number() OVER "
        "(PARTITION BY namespace, name ORDER BY namespace, name) AS _rn "
        f"FROM ({union})) WHERE _rn = 1").collect())


@pytest.mark.parametrize("selection", SELECTIONS)
def test_selection_matches_union_dedup(spark, cat, client, selection):
    """A dataset query returns the union-and-dedup answer, each dataset
    once; ``files from`` the same selection returns the files of those
    datasets that are not retired."""
    want = _union_dedup(spark, Engine(cat), selection)
    got = sorted((r["namespace"], r["name"])
                 for r in client.query(f"datasets {selection}"))
    assert got == want
    members = cat.files_datasets.join(spark.createDataFrame(
        want, "dataset_namespace string, dataset_name string"),
        ["dataset_namespace", "dataset_name"], "left_semi")
    members = members.select(F.col("file_id").alias("id"))
    want_ids = sorted(r["id"] for r in cat.files.where("NOT retired")
                      .join(members, "id", "left_semi").collect())
    got_ids = sorted(r["id"] for r in
                     client.query_iter(f"files from {selection}"))
    assert got_ids == want_ids


def test_overlapping_selectors_list_each_dataset_once(client):
    got = [r["name"] for r in client.query(
        "datasets matching dune:urgent_*, dune:urgent_0")]
    assert sorted(got) == [f"urgent_{i}" for i in range(4)]


def test_having_binds_to_its_own_selector(client):
    """`having` filters only the selector it follows: test:all (whose
    data.type is "data") comes through the second selector."""
    got = {(r["namespace"], r["name"]) for r in client.query(
        'datasets matching dune:* having data.type = "mc", test:all')}
    assert ("test", "all") in got
    assert ("dune", "urgent_1") not in got
    assert {("dune", f"medium_{i}") for i in range(4)} <= got


def test_written_state_is_selected(catalog, cat, client):
    """The written catalog's closure reaches the new dataset and its
    `having` sees the updated metadata; the unwritten one neither."""
    sub = {r["name"] for r in client.query(
        "datasets mc:flag_r with subsets")}
    mc = {r["name"] for r in client.query(
        'datasets matching dune:urgent_* having data.type = "mc"')}
    if cat is catalog:
        assert sub == {"flag_r", "urgent_0", "urgent_1"} and mc == set()
    else:
        assert sub == {"flag_r", "urgent_0", "urgent_1", "sel_new"}
        assert mc == {"urgent_0"}


@pytest.mark.parametrize("mql", ["datasets nosuch:x with subsets "
                                 "recursively",
                                 "files from nosuch:x with ancestors",
                                 'files from dune:* having data.type = "x"'])
def test_empty_selection_is_no_rows(client, mql):
    assert client.query(mql) == []
    assert list(client.query_iter(mql)) == []


@pytest.mark.parametrize("mql", LOCAL_QUERIES)
def test_local_queries_run_no_job(spark, client, mql):
    """Through ``query`` and ``query_iter`` alike, before and after
    writes: the answer is computed on the driver."""
    for read in (client.query, lambda m: list(client.query_iter(m))):
        got = []
        jobs = spark_jobs(spark, lambda: got.extend(read(mql)))
        assert got and jobs == [], (got, jobs)


@pytest.mark.parametrize("mql", RESOLVED_FILE_QUERIES)
def test_resolved_file_query_is_one_job(spark, client, mql):
    """The selected dataset keys are resolved with no job; the files
    read that follows is the only one."""
    for read in (client.query, lambda m: list(client.query_iter(m))):
        got = []
        jobs = spark_jobs(spark, lambda: got.extend(read(mql)))
        assert got and jobs == [1], jobs


def test_list_datasets_lists_every_dataset(catalog, cat, client):
    """With no pattern, every namespace's datasets: the fixture's 24,
    and the written catalog's new one."""
    assert len(client.list_datasets()) == (24 if cat is catalog else 25)
    assert len(client.list_datasets("dune:*")) == 20
