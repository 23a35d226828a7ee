"""One published catalog state: writers publish it once per mutation,
requests pin it once — a reader running beside a composite write sees
all of it or none of it."""

import json
import threading
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from metacat_spark.catalog import from_tpch
from metacat_spark.client import MetaCatSparkClient
from metacat_spark.dml import DML, DMLError, ValidationFailed
from metacat_spark.durable import DurableStore
from metacat_spark.engine import Engine
from metacat_spark.server import start_server
from tests.conftest import SF_DIR

VERSION = "X-MetaCat-Catalog-Version"


def _request(base, path, body=None, **params):
    """(catalog-version header, body) of one request; POST if ``body``."""
    url = f"{base}{path}?{urllib.parse.urlencode(params)}"
    req = urllib.request.Request(
        url, data=None if body is None else json.dumps(body).encode(),
        method="GET" if body is None else "POST")
    with urllib.request.urlopen(req, timeout=600) as resp:
        return resp.headers[VERSION], resp.read().decode("utf-8")


def _ids(base, mql):
    _, text = _request(base, "/data/query", query=mql)
    return sorted(json.loads(f)["id"] for f in text.split("\x1e")
                  if f.strip())


def test_reader_never_sees_half_a_composite_write(spark, monkeypatch):
    """declare_files(dataset=D) appends the files, then adds them to D.
    A query running while the membership add is held back must not
    see the declared files outside D."""
    client = MetaCatSparkClient(spark, catalog=from_tpch(spark, SF_DIR))
    client.dml.create_dataset("test", "half_seen")
    srv, port = start_server(client)
    base = f"http://127.0.0.1:{port}"
    entered, release = threading.Event(), threading.Event()
    add = DML.add_files_to_dataset

    def held(self, *a, **k):
        entered.set()
        assert release.wait(300)
        return add(self, *a, **k)

    monkeypatch.setattr(DML, "add_files_to_dataset", held)
    batch = [{"id": f"hs_{i}", "namespace": "test", "name": f"hs{i}.dat"}
             for i in range(2)]
    replies = []
    writer = threading.Thread(target=lambda: replies.append(_request(
        base, "/data/declare_files", batch, dataset="test:half_seen")))
    writer.start()
    try:
        assert entered.wait(300)
        query = "fids hs_0,hs_1 - files from test:half_seen"
        assert _ids(base, query) == []
    finally:
        release.set()
        writer.join(300)
        srv.shutdown()
    assert json.loads(replies[0][1]) == {"declared": 2}
    assert client.query("fids hs_0,hs_1 - files from test:half_seen") == []
    assert sorted(r["id"] for r in client.query(
        "files from test:half_seen")) == ["hs_0", "hs_1"]


def test_frozen_flag_is_read_from_the_catalog(spark):
    """Two DMLs on one catalog: a dataset frozen through one refuses
    adds through the other (no per-instance flag cache to go stale)."""
    cat = from_tpch(spark, SF_DIR)
    a, b = DML(cat), DML(cat)
    a.create_dataset("test", "shared_frozen")
    a.declare_files([{"id": "sf-1", "namespace": "test",
                      "name": "sf1.dat"}])
    a.update_dataset("test", "shared_frozen", frozen=True)
    with pytest.raises(DMLError, match="frozen"):
        b.add_files_to_dataset(["sf-1"], "test", "shared_frozen")
    a.update_dataset("test", "shared_frozen", frozen=False,
                     monotonic=True)
    assert b.add_files_to_dataset(["sf-1"], "test", "shared_frozen") == 1
    with pytest.raises(DMLError, match="monotonic"):
        b.remove_files_from_dataset(["sf-1"], "test", "shared_frozen")


def test_requirements_are_read_from_the_catalog(spark):
    """Two DMLs on one catalog: a dataset's file metadata requirements
    set through one are enforced through the other, on declare-into
    and on add (the requirements are a column of ``datasets``)."""
    cat = from_tpch(spark, SF_DIR)
    a, b = DML(cat), DML(cat)
    a.create_dataset("test", "shared_reqs", file_meta_requirements={
        "core.run": {"type": "int", "required": True}})
    with pytest.raises(ValidationFailed):
        b.declare_files([{"id": "sr-bad", "namespace": "test",
                          "name": "bad.dat"}],
                        dataset=("test", "shared_reqs"))
    b.declare_files([{"id": "sr-free", "namespace": "test",
                      "name": "free.dat"}])
    with pytest.raises(ValidationFailed):
        b.add_files_to_dataset(["sr-free"], "test", "shared_reqs")
    assert b.declare_files([{"id": "sr-ok", "namespace": "test",
                             "name": "ok.dat", "metadata": {"core.run": 1}}],
                           dataset=("test", "shared_reqs")) == 1
    assert json.loads(cat.datasets.where(F.col("name") == "shared_reqs")
                      .first()["file_metadata_requirements"]) \
        == {"core.run": {"type": "int", "required": True}}


def test_categories_are_read_from_the_catalog(spark):
    """Two DMLs on one catalog: a parameter category created through
    one validates writes through the other."""
    cat = from_tpch(spark, SF_DIR)
    a, b = DML(cat), DML(cat)
    b.validate({"shared.k": "anything"})       # uncategorized: free
    a.create_parameter_category("shared", definitions={
        "shared.k": {"type": "int"}}, restricted=True)
    with pytest.raises(ValidationFailed):
        b.validate({"shared.k": "not an int"})
    with pytest.raises(ValidationFailed):
        b.declare_files([{"id": "sc-1", "namespace": "test",
                          "name": "sc1.dat", "metadata": {"shared.x": 1}}])
    b.validate({"shared.k": 3})


def test_version_counts_published_mutations(spark, tmp_path):
    """+1 per published mutation, composite or not; a no-op publishes
    nothing; a durable restart resumes at the manifest's commit; the
    server reports the version each reply read."""
    root = str(tmp_path / "cat")
    cat = from_tpch(spark, SF_DIR)
    store = DurableStore(spark, root)
    dml = DML(cat, store=store)
    assert cat.version == 0
    dml.create_dataset("test", "versioned")
    assert cat.version == 1
    dml.declare_files([{"id": "ver-1", "namespace": "test",
                        "name": "ver1.dat"}], dataset=("test", "versioned"))
    assert cat.version == 2
    assert dml.add_files_to_dataset(["ver-1"], "test", "versioned") == 0
    assert cat.version == 2
    with pytest.raises(DMLError):
        dml.add_files_to_dataset(["ver-1"], "test", "no_such_dataset")
    assert cat.version == 2 == store.manifest["commit"]

    client = MetaCatSparkClient(spark, catalog=from_tpch(spark, SF_DIR),
                                durable_root=root)
    assert client.catalog.version == 2
    srv, port = start_server(client)
    base = f"http://127.0.0.1:{port}"
    try:
        assert _request(base, "/data/query",
                        query="files from test:versioned")[0] == "2"
        assert _request(base, "/data/query", summary="count",
                        query="files from test:versioned")[0] == "2"
        assert _request(base, "/data/create_dataset", {},
                        dataset="test:versioned_2")[0] == "3"
        assert _request(base, "/data/add_files", ["ver-1"],
                        dataset="test:versioned")[0] == "3"
        assert _request(base, "/data/file", fid="ver-1")[0] == "3"
    finally:
        srv.shutdown()


def test_pinned_reads_ignore_later_publishes(spark):
    """Inside a pin every read sees the pinned state, and a plan built
    there keeps reading it after a write publishes a newer one."""
    cat = from_tpch(spark, SF_DIR)
    dml = DML(cat)
    with cat.pin() as state:
        before = cat.files.where(F.col("id") == "pin-1")
        dml.declare_files([{"id": "pin-1", "namespace": "test",
                            "name": "pin1.dat"}])
        assert cat.version == state.version == 0
        assert cat.files.where(F.col("id") == "pin-1").count() == 0
        with cat.pin() as inner:
            assert inner is state
    assert cat.version == 1
    assert before.count() == 0
    assert cat.files.where(F.col("id") == "pin-1").count() == 1
    # a closure is walked while the query compiles: a reader pinned
    # before a subset edge is added gets the old closure, also from a
    # plan it runs after the edge is published
    eng, mql = Engine(cat), "datasets test:all with subsets recursively"
    dml.create_dataset("test", "pin_sub")

    def names(df):
        return sorted((r["namespace"], r["name"]) for r in df.collect())

    old = names(eng.query(mql))
    with cat.pin():
        dml.add_subset("test", "all", "test", "pin_sub")
        assert names(eng.query(mql)) == old
        plan = eng.query(mql)
    assert names(plan) == old
    assert names(eng.query(mql)) == sorted(old + [("test", "pin_sub")])
