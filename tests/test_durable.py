"""Durable catalog mode (r8): DML writes survive a restart.

The reference persists every write in PostgreSQL
(/root/reference/metacat/db/schema.sql:51-66; COPY-declare
dbobjects2.py:525-557) — a declare outlives the server process. These
tests pin the Spark equivalent (metacat_spark/durable.py): a
"restart" is a FRESH catalog built from the fixtures plus
DurableStore.attach() replaying the commit log; the restored state
must answer queries identically to the mutated session it replaces.
"""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from metacat_spark.catalog import from_tpch
from metacat_spark.dml import DML, DMLError, ValidationFailed
from metacat_spark.durable import ALL_TABLES, DurableStore
from metacat_spark.engine import Engine

from conftest import SF_DIR


def _restart(spark, root):
    """Simulated process restart: brand-new catalog from the fixture
    base, overlay the committed log, fresh DML instance."""
    cat = from_tpch(spark, SF_DIR)
    store = DurableStore(spark, root)
    store.attach(cat)
    return cat, DML(cat, store=store), store


def _state(cat):
    """Order-independent full-state fingerprint of every catalog
    table (rows as sorted JSON) — timestamps stringified, so the
    in-memory session and the restored session compare exactly."""
    out = {}
    for t in ALL_TABLES:
        df = getattr(cat, t)
        if "metadata_v" in df.columns:
            df = df.drop("metadata_v")  # variant renders via metadata
        rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True,
                                 default=str) for r in df.collect())
        out[t] = rows
    return out


def _closure(cat, mql):
    """The (namespace, name) pairs the dataset query ``mql`` selects."""
    return sorted((r["namespace"], r["name"])
                  for r in Engine(cat).query(mql).collect())


def test_restored_journal_is_resident(spark, tmp_path):
    """A restart replays the journal window once, in attach: the
    restored files table is a computed resident leaf, so no request
    re-runs that window or keeps its lineage."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    fid = cat1.files.select("id").first()["id"]
    dml1 = DML(cat1, store=DurableStore(spark, root))
    dml1.update_file_metadata(fid, {"core.run": 1})
    dml1.update_file_metadata(fid, {"core.run": 2})
    cat2, _, store2 = _restart(spark, root)
    assert store2.manifest["commit"] >= 2
    assert cat2.files._jdf.queryExecution().analyzed().rdd() \
        .isCheckpointed()
    plan = cat2.files._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    got = cat2.files.where(F.col("id") == fid).first()
    assert json.loads(got["metadata"])["core.run"] == 2


def test_restart_finds_declared_files(spark, tmp_path):
    """The VERDICT r7 done-criterion: declare → restart → the MQL
    query finds the file; retire/update/move/named-query survive
    too, and the restored full state matches the mutated session
    byte-for-byte."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    dml1 = DML(cat1, store=DurableStore(spark, root))
    dml1.create_dataset("dune", "durable_ds",
                        file_meta_requirements={
                            "core.runs": {"type": "int[]",
                                          "required": True}})
    dml1.declare_files(
        [{"id": "dur-001", "namespace": "dune", "name": "d1.dat",
          "size": 100, "metadata": {"core.run": 1, "core.runs": [1]}},
         {"id": "dur-002", "namespace": "dune", "name": "d2.dat",
          "size": 200, "metadata": {"core.run": 2, "core.runs": [2]},
          "parents": ["dur-001"]}],
        dataset=("dune", "durable_ds"))
    dml1.retire_file("dur-002")
    dml1.update_file_metadata("dur-001", {"core.run": 1,
                                          "core.data_type": "mc"})
    dml1.move_files(["dur-001"], "mc")
    dml1.create_named_query("dune", "dq", "files from dune:durable_ds")
    dml1.create_namespace("durable_ns")
    want = _state(cat1)

    cat2, dml2, store2 = _restart(spark, root)
    assert _state(cat2) == want
    eng = Engine(cat2)
    ids = sorted(r["id"] for r in
                 eng.query("files from dune:durable_ds",
                           include_retired=True).collect())
    assert ids == ["dur-001", "dur-002"]
    # retire survived: default query excludes dur-002
    assert [r["id"] for r in
            eng.query("files from dune:durable_ds").collect()] \
        == ["dur-001"]
    # metadata update + move survived (shredded predicate + namespace)
    assert [r["id"] for r in eng.query(
        'files from dune:durable_ds where core.data_type="mc"'
        ).collect()] == ["dur-001"]
    assert cat2.files.where(F.col("id") == "dur-001") \
        .first()["namespace"] == "mc"
    # provenance edge survived
    assert cat2.parent_child.where(
        (F.col("parent_id") == "dur-001")
        & (F.col("child_id") == "dur-002")).count() == 1
    # named query + dataset requirements + namespace survived
    assert [r["id"] for r in
            eng.query("files selected by dune:dq").collect()] \
        == ["dur-001"]
    with pytest.raises(ValidationFailed):
        dml2.declare_files(
            [{"id": "dur-003", "namespace": "dune", "name": "d3.dat",
              "metadata": {"core.run": 3}}],   # no core.runs
            dataset=("dune", "durable_ds"))
    assert cat2.namespaces.where(
        F.col("name") == "durable_ns").count() == 1


def test_restart_after_deletes_and_membership_changes(spark, tmp_path):
    """Delete cascades (file row + membership + provenance edges) and
    membership removals replay as journal DELETE segments."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    dml1 = DML(cat1, store=DurableStore(spark, root))
    dml1.create_dataset("dune", "dds")
    rows = [{"id": f"dd-{i}", "namespace": "dune", "name": f"f{i}.dat",
             "metadata": {"core.run": i, "core.runs": [i]}}
            for i in range(4)]
    rows[2]["parents"] = ["dd-0"]
    dml1.declare_files(rows, dataset=("dune", "dds"))
    dml1.remove_files_from_dataset(["dd-1"], "dune", "dds")
    dml1.delete_file("dd-2")
    want = _state(cat1)

    cat2, dml2, _ = _restart(spark, root)
    assert _state(cat2) == want
    member = sorted(r["file_id"] for r in cat2.files_datasets.where(
        F.col("dataset_name") == "dds").collect())
    assert member == ["dd-0", "dd-3"]
    assert cat2.files.where(F.col("id") == "dd-2").count() == 0
    assert cat2.parent_child.where(
        F.col("child_id") == "dd-2").count() == 0
    # a deleted id can be re-declared after restart (delete-then-
    # upsert ordering in the log)
    dml2.declare_files([{"id": "dd-2", "namespace": "dune",
                         "name": "f2b.dat",
                         "metadata": {"core.run": 9,
                                      "core.runs": [9]}}])
    cat3, _, _ = _restart(spark, root)
    assert cat3.files.where(F.col("id") == "dd-2") \
        .first()["name"] == "f2b.dat"


def test_restart_edge_replace_and_dataset_flags(spark, tmp_path):
    """update_file(parents=…, replace=True) journals delete+upsert in
    order; frozen/monotonic flags and dataset removal snapshot."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    dml1 = DML(cat1, store=DurableStore(spark, root))
    base = {"core.run": 1, "core.runs": [1]}
    dml1.declare_files(
        [{"id": f"pe-{i}", "namespace": "dune", "name": f"p{i}",
          "metadata": base} for i in range(3)])
    dml1.update_file("pe-2", parents=["pe-0"])
    dml1.update_file("pe-2", parents=["pe-1"], replace=True)
    dml1.create_dataset("dune", "gone_ds")
    dml1.create_dataset("dune", "frozen_ds")
    dml1.add_subset("dune", "frozen_ds", "dune", "gone_ds")
    dml1.add_subset("dune", "frozen_ds", "test", "all")
    dml1.update_dataset("dune", "frozen_ds", frozen=True)
    dml1.remove_dataset("dune", "gone_ds")
    want = _state(cat1)
    closures = ("datasets dune:frozen_ds with subsets recursively",
                "datasets dune:low_0 with ancestors recursively")
    want_closures = [_closure(cat1, mql) for mql in closures]

    cat2, dml2, _ = _restart(spark, root)
    assert _state(cat2) == want
    assert [_closure(cat2, mql) for mql in closures] == want_closures
    assert ("dune", "low_1") in want_closures[0]
    parents = [r["parent_id"] for r in cat2.parent_child.where(
        F.col("child_id") == "pe-2").collect()]
    assert parents == ["pe-1"]
    with pytest.raises(DMLError):
        dml2.add_files_to_dataset(["pe-0"], "dune", "frozen_ds")
    assert cat2.datasets.where(F.col("name") == "gone_ds").count() == 0
    assert cat2.datasets_parent_child.where(
        F.col("child_name") == "gone_ds").count() == 0


def test_compact_folds_log_and_preserves_state(spark, tmp_path):
    """compact() = snapshot + truncated journal: state identical
    before/after, across a restart, and the old segment dirs are
    gone (bounded restore cost)."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    store1 = DurableStore(spark, root)
    dml1 = DML(cat1, store=store1)
    dml1.create_dataset("dune", "cds")
    dml1.declare_files(
        [{"id": f"cp-{i}", "namespace": "dune", "name": f"c{i}",
          "metadata": {"core.run": i, "core.runs": [i]}}
         for i in range(5)], dataset=("dune", "cds"))
    dml1.retire_file("cp-3")
    want = _state(cat1)
    n_segs_before = sum(
        len(e.get("segments") or [])
        for e in store1.manifest["tables"].values())
    assert n_segs_before > 0
    store1.compact(cat1)
    assert all(not e.get("segments")
               for e in store1.manifest["tables"].values())
    assert _state(cat1) == want          # live catalog re-pointed
    cat2, _, store2 = _restart(spark, root)
    assert _state(cat2) == want
    # mutations continue journaling on top of the snapshot
    DML(cat2, store=store2).retire_file("cp-1")
    cat3, _, _ = _restart(spark, root)
    assert cat3.files.where(F.col("id") == "cp-1").first()["retired"]


def test_variant_mode_durable_roundtrip(spark, tmp_path):
    """Cross-feature: the VARIANT warehouse mode journals its native
    VariantType column through the parquet commit log — declare,
    metadata update, and delete (whose delete segments must align a
    NULL variant column) all replay into a fresh variant catalog,
    and variant-path predicates see the restored values."""
    from metacat_spark.catalog import from_materialized

    root = str(tmp_path / "cat")
    cat1 = from_materialized(spark, SF_DIR, variant=True)
    dml1 = DML(cat1, store=DurableStore(spark, root))
    dml1.declare_files(
        [{"id": "var-1", "namespace": "dune", "name": "v1.dat",
          "metadata": {"core.run": 41, "core.runs": [41]}},
         {"id": "var-2", "namespace": "dune", "name": "v2.dat",
          "metadata": {"core.run": 42, "core.runs": [42]}}])
    dml1.update_file_metadata("var-1", {"core.run": 987654,
                                        "core.runs": [987654]})
    dml1.delete_file("var-2")

    cat2 = from_materialized(spark, SF_DIR, variant=True)
    DurableStore(spark, root).attach(cat2)
    eng = Engine(cat2)
    assert [r["id"] for r in
            eng.query("files where core.run = 987654").collect()] \
        == ["var-1"]
    assert cat2.files.where(F.col("id") == "var-2").count() == 0
    # the restored variant column itself serves the value
    got = cat2.files.where(F.col("id") == "var-1").select(
        F.try_variant_get("metadata_v", "$['core.run']", "int")
        .alias("run")).first()
    assert got["run"] == 987654


def test_torn_manifest_falls_back_to_previous_commit(spark, tmp_path):
    """Crash contract: the highest PARSEABLE manifest wins — a torn
    write degrades to the previous commit; segment dirs without a
    manifest are never read."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    dml1 = DML(cat1, store=DurableStore(spark, root))
    dml1.declare_files([{"id": "t-1", "namespace": "dune", "name": "t1",
                         "metadata": {"core.run": 1,
                                      "core.runs": [1]}}])
    good = DurableStore(spark, root).manifest["commit"]
    # torn write of the NEXT commit
    with open(f"{root}/_commits/{good + 1:012d}.json", "w") as f:
        f.write('{"commit": ')         # truncated JSON
    store = DurableStore(spark, root)
    assert store.manifest["commit"] == good
    cat2 = from_tpch(spark, SF_DIR)
    store.attach(cat2)
    assert cat2.files.where(F.col("id") == "t-1").count() == 1
    os.remove(f"{root}/_commits/{good + 1:012d}.json")


def test_failed_mutation_journals_nothing(spark, tmp_path):
    """A raising mutation discards its pending journal ops: the log
    only ever records mutations that succeeded in session state."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    store1 = DurableStore(spark, root)
    dml1 = DML(cat1, store=store1)
    before = store1.manifest["commit"]
    with pytest.raises(DMLError):
        dml1.declare_files(
            [{"id": "x-1", "namespace": "dune", "name": "x",
              "metadata": {"core.run": 1, "core.runs": [1]}}],
            dataset=("dune", "no_such_dataset"))
    assert store1.manifest["commit"] == before
    assert dml1._pending == []
    # and the store still accepts the next good mutation
    dml1.declare_files([{"id": "x-1", "namespace": "dune", "name": "x",
                         "metadata": {"core.run": 1,
                                      "core.runs": [1]}}])
    assert store1.manifest["commit"] == before + 1


def test_partial_mutation_flushes_applied_ops(spark, tmp_path):
    """Review r8: when a composite mutation fails PARTWAY (here:
    save_as journals its dataset row, then add_to's execution raises
    under ANSI), the applied ops still flush — the commit log must
    equal session state, not silently roll back what the session
    kept. And check-before-mutate means update_file with invalid
    metadata after a size arg applies NOTHING."""
    from pyspark.sql import functions as F

    from metacat_spark.dml import ValidationFailed
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    store1 = DurableStore(spark, root)
    dml1 = DML(cat1, store=store1)
    # a result whose execution raises (ANSI cast) AFTER save_as
    # already created + journaled the dataset row; the throwing
    # expression rides the id column so projection pruning can't
    # skip it
    bad = cat1.files.limit(3).select(
        F.concat(F.col("id"),
                 F.expr("cast('zz' as int)").cast("string"))
        .alias("id"))
    with pytest.raises(Exception):
        dml1.save_as(bad, "dune", "half_ds")
    assert cat1.datasets.where(
        (F.col("namespace") == "dune")
        & (F.col("name") == "half_ds")).count() == 1
    want = _state(cat1)
    cat2, _, _ = _restart(spark, root)
    assert _state(cat2) == want          # log == session, exactly
    # update_file: validations run BEFORE any patch
    fid = cat1.files.select("id").first()["id"]
    size0 = cat1.files.where(F.col("id") == fid).first()["size"]
    with pytest.raises(ValidationFailed):
        dml1.update_file(fid, size=size0 + 999,
                         metadata={"core.run": "not-an-int"})
    assert cat1.files.where(F.col("id") == fid).first()["size"] \
        == size0
    with pytest.raises(DMLError):
        dml1.update_file(fid, size=size0 + 999,
                         parents=["no-such-fid"])
    assert cat1.files.where(F.col("id") == fid).first()["size"] \
        == size0
    # declare with a missing out-of-batch parent appends NOTHING
    with pytest.raises(DMLError):
        dml1.declare_files([{"id": "pm-1", "namespace": "dune",
                             "name": "p1", "parents": ["ghost"],
                             "metadata": {"core.run": 1,
                                          "core.runs": [1]}}])
    assert cat1.files.where(F.col("id") == "pm-1").count() == 0
    cat3, _, _ = _restart(spark, root)
    assert _state(cat3) == _state(cat1)


def test_remove_files_empty_list_is_noop(spark, tmp_path):
    """Review r8: an empty removal batch is a no-op in both modes
    (createDataFrame([]) cannot infer a schema and used to crash),
    but the frozen-policy check still fires first."""
    cat = from_tpch(spark, SF_DIR)
    for dml in (DML(cat),
                DML(cat, store=DurableStore(spark,
                                            str(tmp_path / "d")))):
        before = dml.cat.files_datasets.count()
        dml.remove_files_from_dataset([], "dune", "urgent_2")
        assert dml.cat.files_datasets.count() == before
        dml.update_dataset("dune", "urgent_2", frozen=True)
        with pytest.raises(DMLError):
            dml.remove_files_from_dataset([], "dune", "urgent_2")
        dml.update_dataset("dune", "urgent_2", frozen=False)


def test_time_travel_reads_historical_commits(spark, tmp_path):
    """Every numbered manifest is a complete catalog description, so
    `at=N` attaches the catalog AS OF commit N (the Delta VERSION AS
    OF analogue): commit 1 shows the file unretired, commit 2 shows
    it retired, a missing commit raises, and history() lists the
    log."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    dml1 = DML(cat1, store=DurableStore(spark, root))
    dml1.declare_files([{"id": "tt-1", "namespace": "dune",
                         "name": "tt1.dat",
                         "metadata": {"core.run": 1,
                                      "core.runs": [1]}}])
    dml1.retire_file("tt-1")

    def as_of(n):
        cat = from_tpch(spark, SF_DIR)
        DurableStore(spark, root, at=n).attach(cat)
        return cat.files.where(F.col("id") == "tt-1") \
            .select("retired").collect()

    assert [r["retired"] for r in as_of(1)] == [False]
    assert [r["retired"] for r in as_of(2)] == [True]
    with pytest.raises(ValueError, match="no commit 99"):
        DurableStore(spark, root, at=99)
    hist = DurableStore(spark, root).history()
    assert [h["commit"] for h in hist] == [1, 2]
    assert hist[0]["tables"]["files"]["segments"] == 1
    assert hist[1]["tables"]["files"]["segments"] == 2
    # a historical view is read-only: committing from it conflicts —
    # including at == LATEST, where no commit-number collision would
    # fire naturally (review r8)
    from metacat_spark.durable import CommitConflict
    for n in (1, 2):
        cat_old = from_tpch(spark, SF_DIR)
        store_old = DurableStore(spark, root, at=n)
        store_old.attach(cat_old)
        with pytest.raises(CommitConflict):
            DML(cat_old, store=store_old).retire_file(
                "tt-1", unretire=True)
    assert DurableStore(spark, root).manifest["commit"] == 2
    # compact() truncates history (like Delta VACUUM): attaching a
    # pre-compaction commit fails with a CLEAR error, not a mid-query
    # PATH_NOT_FOUND
    live = DurableStore(spark, root)
    cat_live = from_tpch(spark, SF_DIR)
    live.attach(cat_live)
    # a view OPENED before the compaction still holds commit 1's
    # manifest in memory — its attach must preflight-fail on the
    # deleted segment data, not die mid-query
    old = DurableStore(spark, root, at=1)
    live.compact(cat_live)
    with pytest.raises(ValueError, match="removed by a later compact"):
        old.attach(from_tpch(spark, SF_DIR))
    # opening AFTER the compaction fails even earlier: the manifest
    # itself was retired with the checkpoint (r9)
    with pytest.raises(ValueError, match="no commit 1"):
        DurableStore(spark, root, at=1)


def test_commit_conflict_single_winner(spark, tmp_path):
    """Two stores on ONE root racing the same commit number: exactly
    one publishes; the loser raises CommitConflict and the log holds
    only the winner's mutation (optimistic concurrency on manifest
    creation — the Delta/Iceberg log protocol's conflict point)."""
    from metacat_spark.durable import CommitConflict
    root = str(tmp_path / "cat")
    cat_a = from_tpch(spark, SF_DIR)
    cat_b = from_tpch(spark, SF_DIR)
    dml_a = DML(cat_a, store=DurableStore(spark, root))
    dml_b = DML(cat_b, store=DurableStore(spark, root))
    row = {"namespace": "dune", "name": "x",
           "metadata": {"core.run": 1, "core.runs": [1]}}
    dml_a.declare_files([dict(row, id="win-1")])
    # B's store still believes commit 0 → its next commit collides
    with pytest.raises(CommitConflict):
        dml_b.declare_files([dict(row, id="lose-1")])
    cat2, _, _ = _restart(spark, root)
    assert cat2.files.where(F.col("id") == "win-1").count() == 1
    assert cat2.files.where(F.col("id") == "lose-1").count() == 0


def test_commit_conflict_single_winner_through_hook(spark, tmp_path):
    """The r10 create-if-absent backend hook: a local conditional-
    create implementation (O_CREAT|O_EXCL — the same promise a
    conditional PUT gives on S3-class stores) carries the whole
    single-winner protocol. Publishes flow through the hook, the
    racer loses with CommitConflict, a restart holds only the
    winner, and a hook answering False (the HTTP-412 path) is the
    same loss."""
    from metacat_spark.durable import CommitConflict, DurableStore
    calls = []

    def cond_create(dest, data):
        calls.append(dest)
        try:
            fd = os.open(dest, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        return True

    root = str(tmp_path / "cat")
    cat_a = from_tpch(spark, SF_DIR)
    cat_b = from_tpch(spark, SF_DIR)
    dml_a = DML(cat_a, store=DurableStore(
        spark, root, create_if_absent=cond_create))
    dml_b = DML(cat_b, store=DurableStore(
        spark, root, create_if_absent=cond_create))
    row = {"namespace": "dune", "name": "x",
           "metadata": {"core.run": 1, "core.runs": [1]}}
    dml_a.declare_files([dict(row, id="win-1")])
    assert calls and calls[0].endswith("000000000001.json")
    with pytest.raises(CommitConflict):
        dml_b.declare_files([dict(row, id="lose-1")])
    # the loser really raced THROUGH the hook (>= 2: DML's flush
    # deliberately re-attempts once on a raising mutation), and
    # every losing attempt targeted the contested slot
    assert len(calls) >= 2
    assert all(c.endswith("000000000001.json") for c in calls)
    # the published log is byte-compatible: a plain (hook-less)
    # restart replays it
    cat2, _, _ = _restart(spark, root)
    assert cat2.files.where(F.col("id") == "win-1").count() == 1
    assert cat2.files.where(F.col("id") == "lose-1").count() == 0
    # a hook that reports "exists" by returning False (conditional
    # PUT precondition failure) is the same CommitConflict
    dml_c = DML(from_tpch(spark, SF_DIR), store=DurableStore(
        spark, root, create_if_absent=lambda d, b: False))
    with pytest.raises(CommitConflict):
        dml_c.declare_files([dict(row, id="lose-2")])


def test_concurrent_declares_all_reach_the_log(spark, tmp_path):
    """The threaded HTTP server mutates through one DML instance from
    many threads; the RLock serializes and the commit boundary must
    give every mutation its own durable commit — nothing lost,
    restart state == session state."""
    import threading

    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    store1 = DurableStore(spark, root)
    dml1 = DML(cat1, store=store1)
    base_commit = store1.manifest["commit"]
    errs = []

    def declare(i):
        try:
            dml1.declare_files(
                [{"id": f"cc-{i}", "namespace": "dune",
                  "name": f"cc{i}.dat",
                  "metadata": {"core.run": i, "core.runs": [i]}}])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=declare, args=(i,))
               for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert store1.manifest["commit"] == base_commit + 6
    cat2, _, _ = _restart(spark, root)
    got = sorted(r["id"] for r in cat2.files.where(
        F.col("id").startswith("cc-")).collect())
    assert got == [f"cc-{i}" for i in range(6)]
    assert _state(cat2) == _state(cat1)


def test_durable_composite_is_one_commit(spark, tmp_path):
    """declare_files(dataset=…) nests add_files_to_dataset; the
    outermost lock boundary flushes ONE durable commit (atomicity of
    composite mutations in the log)."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    store1 = DurableStore(spark, root)
    dml1 = DML(cat1, store=store1)
    dml1.create_dataset("dune", "one_ds")
    at_create = store1.manifest["commit"]
    dml1.declare_files(
        [{"id": "oc-1", "namespace": "dune", "name": "o1",
          "metadata": {"core.run": 1, "core.runs": [1]}}],
        dataset=("dune", "one_ds"))
    assert store1.manifest["commit"] == at_create + 1


def test_compact_checkpoints_and_retires_manifests(spark, tmp_path):
    """compact() writes _last_checkpoint and retires the manifests
    below it (VERDICT r8 #4): the _commits listing — what attach
    walks — is O(commits-since-compact), history() lists only the
    live window, and a writer stale by more than one compaction
    cannot fork history into a vacated manifest slot."""
    from metacat_spark.durable import CommitConflict
    root = str(tmp_path / "cat")
    cat = from_tpch(spark, SF_DIR)
    store = DurableStore(spark, root)
    dml = DML(cat, store=store)
    dml.create_dataset("dune", "ckd")
    dml.declare_files(
        [{"id": f"ck-{i}", "namespace": "dune", "name": f"k{i}",
          "metadata": {"core.run": i, "core.runs": [i]}}
         for i in range(4)], dataset=("dune", "ckd"))
    dml.retire_file("ck-2")
    pre_ids = store._list_commit_ids()
    assert len(pre_ids) >= 3
    # a second, stale store attached BEFORE the compactions
    stale = DurableStore(spark, root)

    store.compact(cat)
    c1 = store.manifest["commit"]
    assert store._read_checkpoint() == c1
    assert store._list_commit_ids() == [c1]   # older manifests retired
    assert [h["commit"] for h in store.history()] == [c1]

    # keep mutating + compact AGAIN so the stale writer's next commit
    # number lands on a retired (vacated) manifest slot
    dml.retire_file("ck-0")
    store.compact(cat)
    c2 = store.manifest["commit"]
    assert c2 > c1 and store._read_checkpoint() == c2
    assert os.path.exists(
        os.path.join(root, "_commits", "_last_checkpoint"))
    # stale writer would publish commit <= c2 into a vacated slot —
    # the checkpoint guard must refuse instead of forking history
    with pytest.raises(CommitConflict):
        DML(cat, store=stale).retire_file("ck-1")

    # the surviving log keeps working: fresh mutation + restart
    DML(cat, store=store).retire_file("ck-3")
    cat2, _, _ = _restart(spark, root)
    got = {r["id"]: r["retired"]
           for r in cat2.files.where(
               F.col("id").startswith("ck-")).collect()}
    assert got == {"ck-0": True, "ck-1": False,
                   "ck-2": True, "ck-3": True}


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file-uri"])
def test_declared_created_timestamp_survives_restart(spark, tmp_path, uri):
    """A declared file's created_timestamp is taken once on the
    driver, so the restored file shows the value the live session
    showed. The root is a plain path, or a ``file://`` URI, whose
    manifests go through the Hadoop filesystem; the URI root is also
    compacted."""
    root = ("file://" if uri else "") + str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    dml1 = DML(cat1, store=DurableStore(spark, root))
    dml1.declare_files([{"id": f"ct-{k}", "namespace": "test",
                         "name": f"ct{k}.dat"} for k in range(3)])

    def stamps(cat):
        return {r["id"]: r["created_timestamp"] for r in cat.files
                .where(F.col("id").startswith("ct-"))
                .select("id", "created_timestamp").collect()}
    live = stamps(cat1)
    assert len(live) == 3 and None not in live.values()
    assert len(set(live.values())) == 1     # one timestamp per batch
    cat2, _, store2 = _restart(spark, root)
    assert stamps(cat2) == live
    if uri:
        # compact re-attaches cat2 from the snapshots it writes
        store2.compact(cat2)
        assert store2._read_checkpoint() == store2.manifest["commit"]
        assert [h["commit"] for h in store2.history()] \
            == [store2.manifest["commit"]]
        assert stamps(cat2) == live


def test_created_dataset_metadata_is_queryable(spark, tmp_path):
    """A dataset's metadata is shredded when the dataset is created,
    not only when it is updated: predicates on shredded keys find it
    right after the create and after a restart."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    dml1 = DML(cat1, store=DurableStore(spark, root))
    dml1.create_dataset("test", "md_mc", metadata={"data.type": "mc",
                                                   "math.pi": 3})
    dml1.create_dataset("test", "md_none")
    for cat in (cat1, _restart(spark, root)[0]):
        assert [r["name"] for r in Engine(cat).query(
            'datasets matching test:md_* having data.type = "mc" '
            'and math.pi = 3.0').collect()] == ["md_mc"]


def test_dataset_timestamps_survive_a_non_utc_driver(spark, tmp_path,
                                                      non_utc_driver):
    """A small-table write collects the table on the driver, where a
    timestamp comes back in the process's local zone: no dataset's
    created_timestamp moves when the table is written, updated or
    restored, and a new dataset's is the time it was created."""
    root = str(tmp_path / "cat")
    cat1 = from_tpch(spark, SF_DIR)
    dml1 = DML(cat1, store=DurableStore(spark, root))

    def stamps(cat):
        return {(r[0], r[1]): r[2] for r in cat.datasets.select(
            "namespace", "name", F.unix_micros("created_timestamp"))
            .collect()}
    before = stamps(cat1)
    start = time.time_ns() // 1000
    dml1.create_dataset("test", "tz_0")
    created = stamps(cat1)
    assert start <= created.pop(("test", "tz_0")) <= time.time_ns() // 1000
    assert created == before
    dml1.update_dataset("test", "tz_0", description="moved?")
    dml1.update_dataset("dune", "urgent_0", metadata={"data.type": "mc"})
    after = stamps(cat1)
    assert after == {**before, ("test", "tz_0"): after[("test", "tz_0")]}
    assert stamps(_restart(spark, root)[0]) == after


def test_declare_segments_are_one_file(spark, tmp_path):
    """A 20-file declare into a dataset journals its files and
    membership rows as one parquet file per segment; so do a membership
    add, a metadata update and a retire."""
    root = str(tmp_path / "cat")
    cat = from_tpch(spark, SF_DIR)
    store = DurableStore(spark, root)
    dml = DML(cat, store=store)
    dml.declare_files(
        [{"id": f"sg-{k:02d}", "namespace": "test", "name": f"sg{k}.dat",
          "metadata": {"core.run": k}} for k in range(20)],
        dataset=("dune", "urgent_2"))
    dml.add_files_to_dataset(["sg-00", "sg-01"], "dune", "urgent_3")
    dml.update_file_metadata("sg-02", {"core.run": 99})
    dml.retire_file("sg-03")
    tables = store.manifest["tables"]
    segs = {t: [s["path"] for s in tables[t]["segments"]]
            for t in ("files", "files_datasets")}
    assert [len(segs["files"]), len(segs["files_datasets"])] == [3, 2]
    for table, paths in segs.items():
        for path in paths:
            parts = [n for n in os.listdir(f"{root}/{path}")
                     if n.endswith(".parquet")]
            assert len(parts) == 1, (table, path, parts)


def test_request_sized_commits_run_at_most_one_job(spark, tmp_path,
                                                   monkeypatch):
    """A durable declare into a dataset, with parents, an update and a
    retire commit the Arrow tables the request built or patched: no
    Spark job inside ``DurableStore.commit``."""
    from conftest import spark_jobs
    cat = from_tpch(spark, SF_DIR)
    dml = DML(cat, store=DurableStore(spark, str(tmp_path / "cat")))
    commits = []
    commit = DurableStore.commit
    monkeypatch.setattr(DurableStore, "commit", lambda self, ops:
                        commits.append(spark_jobs(
                            spark, lambda: commit(self, ops))))
    dml.declare_files(
        [{"id": f"jb-{k}", "namespace": "test", "name": f"jb{k}.dat",
          "metadata": {"core.run": k}, "parents": ["jb-0"] if k else []}
         for k in range(3)], dataset=("dune", "urgent_2"))
    dml.update_file_metadata("jb-1", {"core.run": 7})
    dml.retire_file("jb-2")
    assert commits == [[], [], []], commits


class _Crash(Exception):
    pass


@pytest.mark.parametrize("point", ["first-segment", "all-segments",
                                   "manifest-create"])
def test_failed_commit_restarts_at_last_published(spark, tmp_path,
                                                  monkeypatch, point):
    """A commit that fails after its first segment, after all of them,
    or at the manifest create publishes nothing: a fresh attach equals
    the last published commit, the unreferenced segment directories are
    never read (their parquet files truncated here), and the DML's
    re-buffered ops land with its next successful mutation."""
    root = str(tmp_path / "cat")
    cat = from_tpch(spark, SF_DIR)
    store = DurableStore(spark, root)
    dml = DML(cat, store=store)
    dml.declare_files([{"id": "cf-0", "namespace": "test",
                        "name": "cf0.dat", "metadata": {"core.run": 0}}])
    published, at = _state(cat), store.manifest["commit"]

    def crash(*args, **kwargs):
        raise _Crash(point)
    if point == "first-segment":
        written = []
        write = DurableStore._write_segment

        def write_one(self, *args, **kwargs):
            if written:
                crash()
            written.append(write(self, *args, **kwargs))
        monkeypatch.setattr(DurableStore, "_write_segment", write_one)
    elif point == "all-segments":
        monkeypatch.setattr(DurableStore, "_write_manifest", crash)
    else:
        monkeypatch.setattr(os, "link", crash)
    with pytest.raises(_Crash):
        dml.declare_files([{"id": "cf-1", "namespace": "test",
                            "name": "cf1.dat", "parents": ["cf-0"],
                            "metadata": {"core.run": 1}}],
                          dataset=("dune", "urgent_2"))
    monkeypatch.undo()
    assert store.manifest["commit"] == at and dml._pending

    referenced = {s["path"] for e in store.manifest["tables"].values()
                  for s in e.get("segments") or []}
    orphans = [os.path.join(d, n) for d, _, names in os.walk(root)
               for n in names if n.endswith(".parquet")
               and os.path.relpath(d, root) not in referenced]
    assert len(orphans) == (1 if point == "first-segment" else 3)
    for path in orphans:
        with open(path, "r+b") as f:
            f.truncate(os.path.getsize(path) // 2)
    assert _state(_restart(spark, root)[0]) == published

    dml.retire_file("cf-0")
    assert store.manifest["commit"] == at + 1 and not dml._pending
    assert _state(_restart(spark, root)[0]) == _state(cat)


def _typed(df):
    """``df``'s schema and rows, timestamps as UTC epoch microseconds."""
    from pyspark.sql import types as T
    micros = df.select(*[
        F.unix_micros(c.name).alias(c.name)
        if isinstance(c.dataType, T.TimestampType) else F.col(c.name)
        for c in df.schema.fields])
    return df.schema, sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True)
        for r in micros.collect())


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file-uri"])
def test_restore_keeps_types_across_both_writers(spark, tmp_path, uri):
    """A root holding a ``compact()`` snapshot from Spark's writer (INT96
    timestamps), then pyarrow segments of every journal kind (a declare
    with a checksums map, parents and no metadata; a membership add; a
    metadata update; retire and unretire timestamps; an edge replace;
    delete keys) and a removed dataset's keys from Spark's writer,
    restores each table equal to the live one in schema and rows,
    timestamps compared at microseconds in UTC."""
    import pyarrow.parquet as pq
    path = str(tmp_path / "cat")
    root = ("file://" if uri else "") + path
    cat1 = from_tpch(spark, SF_DIR)
    store = DurableStore(spark, root)
    dml = DML(cat1, store=store)
    dml.create_dataset("test", "ty_ds")
    dml.declare_files([{"id": f"ty-{k}", "namespace": "test",
                        "name": f"ty{k}.dat", "metadata": {"core.run": k}}
                       for k in range(3)])
    dml.retire_file("ty-0")
    store.compact(cat1)
    snap = store.manifest["tables"]["files"]["snapshot"]
    [part] = [n for n in os.listdir(f"{path}/{snap}")
              if n.endswith(".parquet")]
    written = pq.ParquetFile(f"{path}/{snap}/{part}").schema
    assert written.column(written.names.index("retired_timestamp")) \
        .physical_type == "INT96"

    dml.declare_files(
        [{"id": "ty-3", "namespace": "test", "name": "ty3.dat", "size": 9,
          "checksums": {"adler32": "0a0b0c0d", "md5": 12},
          "parents": ["ty-1", "ty-2"],
          "metadata": {"core.run": 3, "core.runs": [3, 4],
                       "core.x": 1.5}},
         {"id": "ty-4", "namespace": "test", "name": "ty4.dat"}],
        dataset=("test", "ty_ds"))
    dml.add_files_to_dataset(["ty-1"], "test", "ty_ds")
    dml.update_file_metadata("ty-3", {"core.data_type": "mc"})
    dml.retire_file("ty-4")
    dml.retire_file("ty-0", unretire=True)
    dml.update_file("ty-3", parents=["ty-0"], replace=True)
    dml.remove_files_from_dataset(["ty-1"], "test", "ty_ds")
    dml.delete_file("ty-2")
    # Spark's writer again: a removed dataset's membership keys
    dml.create_dataset("test", "ty_gone")
    dml.add_files_to_dataset(["ty-1", "ty-3"], "test", "ty_gone")
    dml.remove_dataset("test", "ty_gone")
    seg = store.manifest["tables"]["files"]["segments"][0]["path"]
    [part] = [n for n in os.listdir(f"{path}/{seg}")
              if n.endswith(".parquet")]
    written = pq.ParquetFile(f"{path}/{seg}/{part}").schema
    assert written.column(written.names.index("created_timestamp")) \
        .physical_type == "INT64"

    cat2, _, _ = _restart(spark, root)
    for t in ALL_TABLES:
        assert _typed(getattr(cat2, t)) == _typed(getattr(cat1, t)), t


def test_readding_a_member_journals_nothing(spark, tmp_path):
    """Re-adding a member is a no-op: it returns 0 and commits
    nothing."""
    cat = from_tpch(spark, SF_DIR)
    store = DurableStore(spark, str(tmp_path / "cat"))
    dml = DML(cat, store=store)
    fid = cat.files.select("id").first()["id"]
    assert dml.add_files_to_dataset([fid], "dune", "urgent_3") == 1
    at = store.manifest["commit"]
    assert dml.add_files_to_dataset([fid, fid], "dune", "urgent_3") == 0
    assert store.manifest["commit"] == at


def test_requirements_survive_another_writers_commit(spark, tmp_path):
    """Two DMLs on one catalog and one store: a dataset's requirements
    set through one survive a later commit through the other and a
    restart (they are a column of the ``datasets`` snapshot, and a
    manifest carries no per-writer copy)."""
    root = str(tmp_path / "cat")
    cat = from_tpch(spark, SF_DIR)
    store = DurableStore(spark, root)
    a, b = DML(cat, store=store), DML(cat, store=store)
    a.create_dataset("test", "kept_reqs", file_meta_requirements={
        "core.run": {"type": "int", "required": True}})
    b.declare_files([{"id": "kr-free", "namespace": "test",
                      "name": "free.dat"}])
    _, dml2, _ = _restart(spark, root)
    with pytest.raises(ValidationFailed):
        dml2.add_files_to_dataset(["kr-free"], "test", "kept_reqs")
    assert "dml_meta" not in store.manifest


def test_older_root_restores_requirements(spark, tmp_path):
    """A root written before ``datasets`` had the requirements column
    (its snapshot lacks the column; the manifest's ``dml_meta`` holds
    them) restores with the requirements in the column and enforced,
    also after a later commit that leaves ``datasets`` alone; the next
    ``datasets`` snapshot writes the column and drops ``dml_meta``."""
    root = str(tmp_path / "cat")
    cat = from_tpch(spark, SF_DIR)
    store = DurableStore(spark, root)
    store.commit([("snapshot", "datasets", cat.datasets
                   .drop("file_metadata_requirements")
                   .where(F.col("name") == "urgent_2"))])
    reqs = {"core.run": {"type": "int", "required": True}}
    path = os.path.join(root, "_commits", "000000000001.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest["dml_meta"] = {"dataset_requirements": {
        "dune\turgent_2": reqs, "dune\tgone": reqs}}
    with open(path, "w") as f:
        json.dump(manifest, f)

    cat2, dml2, store2 = _restart(spark, root)
    [row] = cat2.datasets.collect()
    assert json.loads(row["file_metadata_requirements"]) == reqs
    dml2.declare_files([{"id": "or-free", "namespace": "test",
                         "name": "free.dat"}])
    assert "dml_meta" in store2.manifest
    cat3, dml3, store3 = _restart(spark, root)
    with pytest.raises(ValidationFailed):
        dml3.add_files_to_dataset(["or-free"], "dune", "urgent_2")
    dml3.create_dataset("test", "after_upgrade")
    assert "dml_meta" not in store3.manifest
    _, dml4, _ = _restart(spark, root)
    with pytest.raises(ValidationFailed):
        dml4.add_files_to_dataset(["or-free"], "dune", "urgent_2")
