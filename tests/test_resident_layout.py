"""Resident layout: the file-keyed resident tables (``files`` on id,
``files_datasets`` on file_id, ``parent_child`` on child_id, and at one
partition on parent_id too) are hash-partitioned and sorted on their
key, declared on the checkpoint, so served membership, predicate+limit,
page, count, set-algebra and parents/children reads plan with no
Exchange and run as one Spark job — on the fixture catalog, after DML
writes and after a durable restart."""

import dataclasses
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, spark_job_stages, spark_jobs

from metacat_spark.catalog import from_materialized, from_tpch
from metacat_spark.client import MetaCatSparkClient
from metacat_spark.dml import DML
from metacat_spark.durable import DurableStore
from metacat_spark.engine import Engine

D, D2, D3 = "dune:urgent_0", "dune:urgent_1", "mc:flag_r"
FILE_KEYS = {"files": "id", "files_datasets": "file_id",
             "parent_child": "child_id"}

# the served read shapes: (mql, query options)
READS = {
    "membership": (f"files from {D}", {}),
    "pred": (f"files from {D} where core.run > 100 limit 10", {}),
    "page": (f"files from {D}", {"after_id": "f0", "page_size": 100}),
    "count": (f"files from {D} where core.run > 100", {"summary": "count"}),
    "setop": (f"union(files from {D}, files from {D2}) - files from {D3}",
              {}),
    "parents": (f"parents(files from {D} where core.run in 100:300)", {}),
    "children": (f"children(files from {D})", {}),
}


def _layout(df):
    """(key, n) of the hash partitioning ``df``'s physical plan reports,
    or a tuple of them for a collection of hash partitionings."""
    part = (df._jdf.queryExecution().executedPlan().outputPartitioning()
            .toString())
    parts = part[1:-1].split(" or ") if part.startswith("(") else [part]
    found = [re.fullmatch(r"hashpartitioning\((\w+)#\d+, (\d+)\)", p)
             for p in parts]
    if not all(found):
        return part
    layouts = tuple((m.group(1), int(m.group(2))) for m in found)
    return layouts[0] if len(layouts) == 1 else layouts


def _expected_layouts(n: int) -> dict:
    """Each table on its key in n partitions; at n = 1 parent_child also
    declares parent_id."""
    want = {name: (key, n) for name, key in FILE_KEYS.items()}
    if n == 1:
        want["parent_child"] = (("child_id", 1), ("parent_id", 1))
    return want


def _misplaced(df, key: str, n: int) -> int:
    """Rows outside the partition ``HashPartitioning(key, n)`` assigns,
    plus adjacent pairs out of key order within a partition."""
    rows = (df.select(F.spark_partition_id().alias("p"),
                      F.expr(f"pmod(hash({key}), {n})").alias("h"), key)
            .collect())
    return (sum(r["p"] != r["h"] for r in rows)
            + sum(a["p"] == b["p"] and a[key] > b[key]
                  for a, b in zip(rows, rows[1:])))


def _plan(cat, shape: str) -> str:
    mql, opts = READS[shape]
    return (Engine(cat).query(mql, **opts)._jdf.queryExecution()
            .executedPlan().toString())


def _assert_laid_out(cat):
    layouts = {name: _layout(getattr(cat, name)) for name in FILE_KEYS}
    assert layouts == _expected_layouts(cat.partitions), layouts
    for name, key in FILE_KEYS.items():
        assert _misplaced(getattr(cat, name), key, cat.partitions) == 0, name
    for shape in READS:
        plan = _plan(cat, shape)
        assert "Exchange" not in plan, f"{shape}: {plan}"


@pytest.fixture(scope="module")
def cat(spark):
    return from_tpch(spark, SF_DIR)


def test_fixture_tables_share_one_layout(cat):
    """The three tables report hashpartitioning(<key>, n) with the
    catalog's one n: 1 at this scale, where parent_child reports
    parent_id as well."""
    assert cat.partitions == 1
    for name, want in _expected_layouts(1).items():
        assert _layout(getattr(cat, name)) == want, name


@pytest.mark.parametrize("shape", sorted(READS))
def test_served_read_plans_have_no_exchange(cat, shape):
    plan = _plan(cat, shape)
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize("shape", sorted(READS))
def test_served_read_is_one_job(spark, cat, shape):
    """Through the client, as the server calls it: a count collects,
    every other shape streams; either is one job of one stage."""
    mql, opts = READS[shape]
    client = MetaCatSparkClient(spark, catalog=cat)
    if "summary" in opts:
        def read():
            return client.query(mql, **opts)
    else:
        def read():
            return list(client.query_iter(mql, **opts))
    try:
        want = read()       # first use computes the resident tables
        got = []
        jobs = spark_jobs(spark, lambda: got.append(read()))
    finally:
        client._pool.shutdown(wait=True)
    assert got[0] == want
    assert jobs == [1], jobs


def _fetches(monkeypatch, spark) -> list:
    """The DataFrame fetches (``toArrow``, ``toLocalIterator``) run
    from now on in this test, by name, in order."""
    cls = type(spark.range(1))
    calls = []
    for name in ("toArrow", "toLocalIterator"):
        def counted(self, *a, _name=name, _real=getattr(cls, name), **k):
            calls.append(_name)
            return _real(self, *a, **k)
        monkeypatch.setattr(cls, name, counted)
    return calls


def _streamed(cat, shape: str) -> tuple:
    """(mql, options) of a streamed read shape: one of READS, or
    ``fids``, three of the catalog's file ids."""
    if shape != "fids":
        return READS[shape]
    ids = [r["id"] for r in cat.files.select("id").limit(3).collect()]
    return "fids " + ", ".join(ids), {}


@pytest.mark.parametrize("shape", sorted(
    [s for s, (_, opts) in READS.items() if "summary" not in opts]
    + ["fids"]))
def test_bounded_stream_is_one_arrow_fetch(spark, cat, monkeypatch, shape):
    """At one partition every streamed read is bounded: its records
    come from one Arrow fetch in one Spark job, never from
    toLocalIterator."""
    mql, opts = _streamed(cat, shape)
    client = MetaCatSparkClient(spark, catalog=cat)
    want = list(client.query_iter(mql, **opts))
    calls = _fetches(monkeypatch, spark)
    got = []
    jobs = spark_jobs(spark, lambda: got.extend(client.query_iter(
        mql, **opts)))
    assert got == want and calls == ["toArrow"] and jobs == [1], (
        calls, jobs)


def _assert_collected_without_a_job(spark, cat, monkeypatch):
    """Dataset and named-query results, read through ``query`` and
    ``query_iter``, are collected: a plan over driver-held tables,
    which Spark answers on the driver with no job and neither an Arrow
    fetch nor a stream."""
    client = MetaCatSparkClient(spark, catalog=cat)
    calls = _fetches(monkeypatch, spark)
    for read in (client.query, client.query_iter):
        for mql, want in (("queries matching dune:*",
                           ["favorite_x", "recent"]),
                          ("datasets matching dune:urgent_*",
                           [f"urgent_{i}" for i in range(4)])):
            got = []
            jobs = spark_jobs(spark, lambda: got.extend(read(
                mql, with_metadata=True)))
            assert sorted(r["name"] for r in got) == want, got
            assert isinstance(got[0]["metadata"], dict), got
            assert calls == [] and jobs == [], (mql, calls, jobs)


def test_query_collects_a_local_result_without_a_job(spark, cat,
                                                     monkeypatch):
    _assert_collected_without_a_job(spark, cat, monkeypatch)


def test_bounded_fetch_cuts_a_declares_lazy_checkpoint(spark, cat):
    """A declare leaves the new files table a lazy local checkpoint;
    the first bounded read of it computes the checkpoint and cuts its
    lineage, as a collect does and a partition-wise stream does not.
    The declare goes to a second catalog over ``cat``'s state."""
    c = dataclasses.replace(cat)
    DML(c).declare_files([{"id": "ckp0", "namespace": "dune",
                           "name": "ckp0.dat"}])
    rdd = c.files._jdf.queryExecution().analyzed().rdd()
    assert not rdd.isCheckpointed()
    client = MetaCatSparkClient(spark, catalog=c)
    assert [r["id"] for r in client.query_iter("fids ckp0")] == ["ckp0"]
    assert rdd.isCheckpointed()


@pytest.fixture(scope="module")
def durable_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("layout") / "cat")


@pytest.fixture(scope="module")
def cycled(spark, cat, durable_root):
    """The fixture catalog after one of each write: declare (into a
    dataset, with parents), add, update, retire, remove, delete —
    journaled. The reads above hold on it too."""
    dml = DML(cat, store=DurableStore(spark, durable_root))
    parent = sorted(r["id"] for r in cat.files.select("id").limit(5)
                    .collect())[0]
    dml.declare_files([{"id": f"lay{i}", "namespace": "dune",
                        "name": f"lay{i}.dat", "parents": [parent],
                        "metadata": {"core.run": 150 + i}}
                       for i in range(4)], dataset=("test", "all"))
    dml.add_files_to_dataset(["lay0", "lay1"], "dune", "urgent_2")
    dml.update_file("lay1", size=7, children=["lay2"])
    dml.retire_file("lay2")
    dml.remove_files_from_dataset(["lay0"], "dune", "urgent_2")
    dml.delete_file("lay3")
    return cat


def test_dml_cycle_keeps_layout(cycled):
    """Every write keeps the three tables laid out (rows really sit
    where the declaration says) and the reads exchange-free."""
    _assert_laid_out(cycled)
    got = {r["id"] for r in Engine(cycled).query(
        "files from dune:urgent_2").select("id").collect()}
    assert "lay1" in got and "lay0" not in got


def test_restart_keeps_layout(spark, cycled, durable_root):
    restored = from_tpch(spark, SF_DIR)
    DurableStore(spark, durable_root).attach(restored)
    _assert_laid_out(restored)
    ids = {r["id"] for r in restored.files.where(
        F.col("id").startswith("lay")).select("id").collect()}
    assert ids == {"lay0", "lay1", "lay2"}


def test_replay_reads_segments_without_a_job(spark, cycled, durable_root):
    """Journal segments are read with the schema their writer used, so
    planning the replay of the cycled root (several segments per
    table) runs no Spark job: the jobs a restore runs do not grow with
    the log."""
    store = DurableStore(spark, durable_root)
    tables = store.manifest["tables"]
    assert sorted(len(e["segments"]) for e in tables.values())[0] > 1
    jobs = spark_jobs(spark, lambda: [
        store._replay(getattr(cycled, name), name, entry)
        for name, entry in tables.items()])
    assert jobs == [], jobs


@pytest.fixture(scope="module")
def wide(spark):
    """A warehouse catalog of n > 1 partitions whose files table the
    first write has laid out (it places the bucketed scan's rows
    once)."""
    c = from_materialized(spark, SF_DIR)
    assert c.partitions > 1
    DML(c).declare_files([{"id": "shuf0", "namespace": "dune",
                           "name": "shuf0.dat",
                           "metadata": {"core.run": 1}}])
    c.files.count()
    return c


def test_declare_shuffles_only_the_delta(wide):
    """On a laid-out table of n > 1 partitions a declare places only
    its own rows: the new version's lineage has one shuffle, whose map
    side is the one-partition delta, and reads the previous version's
    rows narrowly."""
    c = wide
    before = c.files._jdf.queryExecution().analyzed().rdd().id()
    DML(c).declare_files([{"id": "shuf1", "namespace": "dune",
                           "name": "shuf1.dat"}])
    assert _layout(c.files) == ("id", c.partitions)
    lineage = (c.files._jdf.queryExecution().analyzed().rdd()
               .toDebugString())
    narrow, _, shuffled = lineage.partition("ShuffledRowRDD")
    assert f"[{before}]" in narrow and f"[{before}]" not in shuffled
    assert "ShuffledRowRDD" not in shuffled
    assert shuffled.splitlines()[1].lstrip().startswith("+-(1)"), lineage
    assert _misplaced(c.files, "id", c.partitions) == 0


@pytest.mark.parametrize("write", ["update", "retire"])
def test_point_write_shuffles_only_the_delta(spark, wide, write):
    """At n > 1 an update or a retire reads its row in one job and
    computes the new version with one shuffle, whose map side is the
    one-row delta; the rows stay laid out."""
    c, dml = wide, DML(wide)
    n = c.partitions
    if write == "update":
        jobs = spark_job_stages(spark, lambda: dml.update_file_metadata(
            "shuf0", {"core.run": 2}))
    else:
        jobs = spark_job_stages(spark, lambda: dml.retire_file("shuf0"))
    # the probe; then one shuffle, whose map side is the delta's one
    # partition (adaptive execution runs it as a job of its own first)
    # and whose reduce side is the n partitions
    probe, *map_side, final = jobs
    assert len(probe) == 1 and sorted(final.values()) == [1, n], jobs
    assert all(list(j.values()) == [1] for j in map_side), jobs
    assert _layout(c.files) == ("id", n)
    assert _misplaced(c.files, "id", n) == 0
    [row] = c.files.where(F.col("id") == "shuf0").collect()
    assert row["retired"] if write == "retire" else row["m_core_run"] == 2


@pytest.mark.parametrize("mql, opts", [
    READS["membership"],
    (f"files from {D}", {"page_size": 10 ** 8})])
def test_wide_streams_every_read(spark, wide, monkeypatch, mql, opts):
    """At n > 1 partitions a read streams one partition at a time,
    whatever page size it asks for: the driver never holds more than
    one partition of it."""
    client = MetaCatSparkClient(spark, catalog=wide)
    want = Engine(wide).query(mql, **opts).collect()
    calls = _fetches(monkeypatch, spark)
    got = list(client.query_iter(mql, **opts))
    assert sorted(r["id"] for r in got) == sorted(r["id"] for r in want)
    assert calls == ["toLocalIterator"], calls


def test_wide_collects_a_local_result_without_a_job(spark, wide,
                                                    monkeypatch):
    """At n > 1 partitions too, only file results stream."""
    _assert_collected_without_a_job(spark, wide, monkeypatch)
