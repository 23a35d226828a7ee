"""DML / catalog-operation tests: validation engine, declare/update/
retire, membership with frozen/monotonic enforcement, save_as/add_to
sinks (SURVEY.md §2.10)."""

import json

import pytest
from pyspark.sql import functions as F

from metacat_spark.catalog import from_tpch
from metacat_spark.dml import DML, DMLError, ValidationFailed
from metacat_spark.engine import Engine
from metacat_spark.validation import category_of, validate_metadata

from conftest import SF_DIR


@pytest.fixture(params=["memory", "durable"])
def fresh(spark, request, tmp_path):
    """Isolated catalog per test — DML mutates session state. Runs
    every scenario in BOTH persistence modes (r8): "durable" journals
    each mutation to a DurableStore commit log, so the whole DML
    surface exercises the write-behind path, and the paired
    restart-equivalence checks live in test_durable.py."""
    cat = from_tpch(spark, SF_DIR)
    if request.param == "durable":
        from metacat_spark.durable import DurableStore
        store = DurableStore(spark, str(tmp_path / "durable"))
        return Engine(cat), DML(cat, store=store)
    return Engine(cat), DML(cat)


# ------------------------------------------------------------- validation

def test_validate_types():
    defs = {"core.run": {"type": "int"},
            "core.x": {"type": "float"},
            "core.name": {"type": "text"},
            "core.flags": {"type": "boolean[]"}}
    assert validate_metadata(defs, False, {"core.run": 5}) == []
    assert validate_metadata(defs, False, {"core.run": "5"})
    assert validate_metadata(defs, False, {"core.x": 1.5}) == []
    assert validate_metadata(defs, False, {"core.x": 1})  # int is not float
    assert validate_metadata(defs, False, {"core.flags": [True, False]}) == []
    assert validate_metadata(defs, False, {"core.flags": [1, 0]})


def test_validate_enum_supersedes_range():
    """values enum supersedes pattern/min/max (reference puts them in
    its else branch — validation.py:112-142)."""
    defs = {"k.v": {"type": "int", "values": [1, 2, 99], "min": 10}}
    assert validate_metadata(defs, False, {"k.v": 1}) == []  # min ignored
    assert validate_metadata(defs, False, {"k.v": 50})       # not in enum


def test_validate_pattern_min_max_required_restricted():
    defs = {"c.v": {"type": "text", "pattern": r"^v\d+$"},
            "c.n": {"type": "int", "min": 0, "max": 10,
                    "required": True}}
    assert validate_metadata(defs, False, {"c.v": "v12", "c.n": 5}) == []
    assert validate_metadata(defs, False, {"c.v": "x12", "c.n": 5})
    assert validate_metadata(defs, False, {"c.n": 11})
    assert validate_metadata(defs, False, {"c.v": "v1"})  # c.n missing
    assert validate_metadata(defs, True, {"c.other": 1, "c.n": 0})


def test_category_of():
    assert category_of("core.run") == "core"
    assert category_of("a.b.c") == "a.b"
    with pytest.raises(ValueError):
        category_of("plain")


# ------------------------------------------------------------------- DML

def test_declare_and_query(fresh):
    eng, dml = fresh
    n = dml.declare_files([
        {"id": "znew0001", "namespace": "test", "name": "new_1.data",
         "size": 100, "metadata": {"core.run": 1, "core.x": 0.5}},
        {"id": "znew0002", "namespace": "test", "name": "new_2.data",
         "size": 200, "metadata": {"core.run": 2}},
    ], dataset=("test", "all"))
    assert n == 2
    got = [r["id"] for r in
           eng.query("files from test:all where core.run in 1:2 "
                     "and namespace = test").select("id").collect()
           if r["id"].startswith("znew")]
    assert sorted(got) == ["znew0001", "znew0002"]


def test_declare_validation_rejects(fresh):
    _, dml = fresh
    with pytest.raises(ValidationFailed):
        dml.declare_files([{"id": "x", "namespace": "t", "name": "n",
                            "metadata": {"core.run": "not-an-int"}}])
    with pytest.raises(ValidationFailed):
        dml.declare_files([{"id": "x", "namespace": "t", "name": "n",
                            "metadata": {"core.x": 99.0,
                                         "core.run": 1}}])  # max 20
    with pytest.raises(ValidationFailed):  # restricted category
        dml.declare_files([{"id": "x", "namespace": "t", "name": "n",
                            "metadata": {"data.unknown": 1}}])
    with pytest.raises(ValidationFailed):  # core.run required
        dml.declare_files([{"id": "x", "namespace": "t", "name": "n",
                            "metadata": {"core.x": 1.0}}])


def test_frozen_monotonic_enforcement(fresh):
    eng, dml = fresh
    fid = eng.query("files from test:all ordered limit 1") \
        .collect()[0]["id"]
    with pytest.raises(DMLError, match="frozen"):
        dml.add_files_to_dataset([fid], "dune", "urgent_0")
    # monotonic: adds ok, removals refused
    dml.add_files_to_dataset([fid], "dune", "urgent_1")
    with pytest.raises(DMLError, match="monotonic"):
        dml.remove_files_from_dataset([fid], "dune", "urgent_1")
    # plain dataset: both fine
    dml.add_files_to_dataset([fid], "dune", "urgent_2")
    dml.remove_files_from_dataset([fid], "dune", "urgent_2")


def test_retire_file(fresh):
    eng, dml = fresh
    fid = eng.query("files from test:all ordered limit 1").collect()[0]["id"]
    before = eng.query("files from test:all", summary="count") \
        .collect()[0]["count"]
    dml.retire_file(fid)
    eng2 = Engine(dml.cat)
    after = eng2.query("files from test:all", summary="count") \
        .collect()[0]["count"]
    assert after == before - 1


def test_update_metadata_modes(fresh):
    eng, dml = fresh
    fid = eng.query("files from test:all ordered limit 1").collect()[0]["id"]
    dml.update_file_metadata(fid, {"core.run": 77}, mode="update")
    row = dml.cat.files.where(F.col("id") == fid) \
        .select(F.get_json_object("metadata", "$['core.run']").alias("v"),
                F.get_json_object("metadata", "$['core.x']").alias("x")) \
        .collect()[0]
    assert row["v"] == "77" and row["x"] is not None  # merged, not replaced
    dml.update_file_metadata(fid, {"core.run": 78}, mode="replace")
    row = dml.cat.files.where(F.col("id") == fid) \
        .select(F.get_json_object("metadata", "$['core.x']").alias("x")) \
        .collect()[0]
    assert row["x"] is None  # replaced wholesale


def test_update_validates_the_merged_metadata(fresh):
    """A merge update that touches the core category without carrying
    core.run is valid when the file already has it: the category's
    required keys are judged on the merged metadata. Each patched value
    is still checked, and a replace must carry core.run."""
    import json as _json
    eng, dml = fresh
    dml.declare_files([{"id": "mv-1", "namespace": "test",
                        "name": "mv1.dat", "metadata": {"core.run": 1}}])
    dml.update_file_metadata("mv-1", {"core.data_type": "mc"})
    dml.update_file("mv-1", size=5, metadata={"core.data_type": "data"})
    row = dml.cat.files.where(F.col("id") == "mv-1").first()
    assert _json.loads(row["metadata"]) == {"core.run": 1,
                                            "core.data_type": "data"}
    assert row["size"] == 5
    for bad in (lambda: dml.update_file_metadata(
                    "mv-1", {"core.data_type": "nope"}),
                lambda: dml.update_file_metadata(
                    "mv-1", {"core.data_type": "mc"}, mode="replace"),
                lambda: dml.update_file(
                    "mv-1", size=6, metadata={"core.data_type": "mc"},
                    replace=True)):
        with pytest.raises(ValidationFailed):
            bad()
    row = dml.cat.files.where(F.col("id") == "mv-1").first()
    assert _json.loads(row["metadata"])["core.data_type"] == "data"
    assert row["size"] == 5


def test_update_reshreds_shredded_columns(fresh):
    """Regression (ADVICE r1, high): shredded columns must track metadata
    updates or predicate queries on the updated key return stale
    results."""
    eng, dml = fresh
    fid = eng.query("files from test:all ordered limit 1") \
        .collect()[0]["id"]
    dml.update_file_metadata(fid, {"core.run": 777777}, mode="update")
    eng2 = Engine(dml.cat)
    got = [r["id"] for r in
           eng2.query("files where core.run = 777777").collect()]
    assert got == [fid]
    # replace mode drops absent shredded keys: core.x no longer matches
    dml.update_file_metadata(fid, {"core.run": 777777}, mode="replace")
    eng3 = Engine(dml.cat)
    assert eng3.query("files where core.run = 777777 and core.x >= 0") \
        .count() == 0
    assert eng3.query("files where core.run = 777777").count() == 1


def test_update_merge_preserves_value_types(fresh):
    """Regression (ADVICE r1, medium): merge must not stringify values —
    reference merge is a Python dict update (data_handler.py:1186)."""
    import json as _json
    eng, dml = fresh
    fid = eng.query("files from test:all ordered limit 1") \
        .collect()[0]["id"]
    dml.update_file_metadata(
        fid, {"core.x": 0.2, "core.runs": [1, 172],
              "data.trigger_bits": {"muon": 3}, "core.run": 5},
        mode="update")
    raw = dml.cat.files.where(F.col("id") == fid) \
        .select("metadata").collect()[0]["metadata"]
    meta = _json.loads(raw)
    assert meta["core.x"] == 0.2                   # float, not "0.2"
    assert meta["core.runs"] == [1, 172]           # array, not "[1, 172]"
    assert meta["data.trigger_bits"] == {"muon": 3}
    # untouched keys from before the update keep their types too
    assert not isinstance(meta.get("core.run"), str)
    # nested-path access works after the update
    eng2 = Engine(dml.cat)
    hits = eng2.query(
        'files where data.trigger_bits["muon"] = 3 and core.run = 5')
    assert fid in {r["id"] for r in hits.collect()}


def test_declare_redeclare_raises(fresh):
    from metacat_spark.dml import AlreadyExists
    eng, dml = fresh
    fid = eng.query("files from test:all ordered limit 1") \
        .collect()[0]["id"]
    with pytest.raises(AlreadyExists):
        dml.declare_files([{"id": fid, "namespace": "t", "name": "n",
                            "metadata": {"core.run": 1}}])
    with pytest.raises(AlreadyExists):  # dup inside the batch
        dml.declare_files([
            {"id": "zdup", "namespace": "t", "name": "a",
             "metadata": {"core.run": 1}},
            {"id": "zdup", "namespace": "t", "name": "b",
             "metadata": {"core.run": 1}}])


def test_membership_dedup_and_existence(fresh):
    eng, dml = fresh
    fid = eng.query("files from test:all ordered limit 1") \
        .collect()[0]["id"]
    before = dml.cat.files_datasets.count()
    assert dml.add_files_to_dataset([fid], "dune", "urgent_2") == 1
    # idempotent: re-add is a no-op, membership table does not grow
    assert dml.add_files_to_dataset([fid, fid], "dune", "urgent_2") == 0
    assert dml.cat.files_datasets.count() == before + 1
    with pytest.raises(DMLError, match="not found"):
        dml.add_files_to_dataset([fid], "dune", "no_such_dataset")
    with pytest.raises(DMLError, match="not found"):
        dml.add_files_to_dataset(["zmissing"], "dune", "urgent_2")
    # add_to sink is idempotent against existing membership too
    result = eng.file_set("files from dune:urgent_3")
    n1 = dml.add_to(result, "dune", "urgent_2")
    n2 = dml.add_to(result, "dune", "urgent_2")
    assert n1 > 0 and n2 == 0


def test_save_as_and_add_to(fresh):
    eng, dml = fresh
    result = eng.file_set("files from dune:urgent_2 where core.good = true")
    n = dml.save_as(result, "test", "saved_run")
    assert n == result.select("id").distinct().count()
    eng2 = Engine(dml.cat)
    # compare id SETS: the fixture's one fully-duplicated source row can
    # make row counts differ by one across the membership semi-join
    saved_ids = {r["id"] for r in
                 eng2.query("files from test:saved_run").collect()}
    want_ids = {r["id"] for r in result.select("id").collect()}
    assert saved_ids == want_ids
    with pytest.raises(DMLError):
        dml.save_as(result, "test", "saved_run")  # already exists
    n2 = dml.add_to(eng.file_set("files from dune:urgent_3"),
                    "test", "saved_run")
    assert n2 > 0


# ------------------------------------------------------------------ stats

def test_stats_counts(fresh):
    from metacat_spark.stats import CatalogStats
    eng, dml = fresh
    stats = CatalogStats(dml.cat)
    exact = stats.nfiles("dune", "urgent_0", exact=True)
    cached = stats.nfiles("dune", "urgent_0")
    assert exact == cached > 0
    direct = eng.query("files from dune:urgent_0", summary="count") \
        .collect()[0]["count"]
    assert exact == direct
    # counts drop when a member file is retired and stats refresh
    fid = eng.query("files from dune:urgent_0 ordered limit 1") \
        .collect()[0]["id"]
    dml.retire_file(fid)
    stats2 = CatalogStats(dml.cat)
    assert stats2.nfiles("dune", "urgent_0", exact=True) == exact - 1


def test_move_files(fresh):
    eng, dml = fresh
    fid = eng.query("files from dune:urgent_2 ordered limit 1") \
        .collect()[0]["id"]
    dml.move_files([fid], "test", by="mover")
    row = dml.cat.files.where(F.col("id") == fid) \
        .select("namespace", "updated_by").collect()[0]
    assert row["namespace"] == "test" and row["updated_by"] == "mover"
    # membership (keyed by id) still holds: the file remains in its
    # datasets after the move
    eng2 = Engine(dml.cat)
    ids = {r["id"] for r in eng2.query("files from dune:urgent_2")
           .collect()}
    assert fid in ids


def test_point_writes_run_two_jobs(spark, fresh):
    """An update, a retire, an update_file and a move each read their
    rows in one Spark job and compute the new files table in one more,
    so no reader pays for it; a durable commit adds none (it writes the
    patched Arrow rows)."""
    from conftest import spark_jobs
    _, dml = fresh
    dml.declare_files([{"id": "pj-0", "namespace": "dune",
                        "name": "pj0.dat", "metadata": {"core.run": 1}}])
    writes = {
        "update": lambda: dml.update_file_metadata("pj-0", {"core.run": 2}),
        "retire": lambda: dml.retire_file("pj-0"),
        "update_file": lambda: dml.update_file(
            "pj-0", size=5, checksums={"adler32": "01"},
            metadata={"core.x": 1.5}),
        "move": lambda: dml.move_files(["pj-0"], "test"),
    }
    jobs, computed = {}, {}
    for kind, write in writes.items():
        jobs[kind] = len(spark_jobs(spark, write))
        computed[kind] = (dml.cat.files._jdf.queryExecution().analyzed()
                          .rdd().isCheckpointed())
    assert jobs == dict.fromkeys(writes, 2), jobs
    assert all(computed.values()), computed
    row = dml.cat.files.where(F.col("id") == "pj-0").first()
    assert (row["namespace"], row["size"], row["retired"],
            row["m_core_run"], row["m_core_x"]) == ("test", 5, True, 2, 1.5)


def _variant_catalog(cat):
    """``cat`` served the way a variant warehouse serves files: one
    VariantType ``metadata_v`` column and no shredded columns."""
    from metacat_spark.schema import MetaSchema
    shredded = [mk.column for mk in cat.file_meta.by_key.values()]
    cat.publish(files=cat.files.drop(*shredded).withColumn(
        "metadata_v", F.parse_json("metadata")))
    cat.file_meta = MetaSchema([])
    cat.file_variant_column = "metadata_v"
    return cat


@pytest.mark.parametrize("variant", [False, True],
                         ids=["shredded", "variant"])
def test_replace_update_shreds_as_declare(spark, variant):
    """A file declared with metadata M and one declared with other
    metadata and then replace-updated to M hold the same JSON and the
    same value in every shredded (or variant) column: keys the replace
    drops are null."""
    cat = from_tpch(spark, SF_DIR)
    if variant:
        cat = _variant_catalog(cat)
    dml = DML(cat)
    meta = {"core.run": 5, "core.x": 2.5, "core.runs": [5, 6],
            "detector.modules": ["a", "b"], "beam.status": "on",
            "data.trigger_bits": {"muon": 1}, "core.cold": "kept"}
    dml.declare_files([
        {"id": "sh-m", "namespace": "dune", "name": "shm.dat",
         "metadata": meta},
        {"id": "sh-u", "namespace": "dune", "name": "shu.dat",
         "metadata": {"core.run": 1, "core.version": "1.0",
                      "core.good": True, "data.sequence": [1, 2]}}])
    dml.update_file_metadata("sh-u", meta, mode="replace")
    cols = ["metadata"] + [c for c in cat.files.columns
                           if c.startswith("m_")]
    if variant:
        cols.append(F.col("metadata_v").cast("string").alias("v"))
    rows = {r["id"]: r.asDict(recursive=True) for r in cat.files
            .where(F.col("id").isin("sh-m", "sh-u"))
            .select("id", *cols).collect()}
    declared, updated = rows.pop("sh-m"), rows.pop("sh-u")
    assert json.loads(updated.pop("metadata")) == meta
    assert json.loads(declared.pop("metadata")) == meta
    if variant:
        assert json.loads(updated.pop("v")) == json.loads(declared.pop("v"))
    else:
        assert updated["m_core_version"] is None
        assert updated["m_core_x"] == 2.5
    assert {k: v for k, v in updated.items() if k != "id"} \
        == {k: v for k, v in declared.items() if k != "id"}


def test_update_dataset(fresh):
    eng, dml = fresh
    fid = eng.query("files from test:all ordered limit 1") \
        .collect()[0]["id"]
    dml.update_dataset("dune", "urgent_2", metadata={"data.type": "mc"},
                       frozen=True, description="frozen now")
    row = dml.cat.datasets.where(
        (F.col("namespace") == "dune") & (F.col("name") == "urgent_2")) \
        .select("frozen", "description", "metadata").collect()[0]
    assert row["frozen"] and row["description"] == "frozen now"
    assert '"data.type": "mc"' in row["metadata"].replace('":"', '": "')
    with pytest.raises(DMLError, match="frozen"):
        dml.add_files_to_dataset([fid], "dune", "urgent_2")
    dml.update_dataset("dune", "urgent_2", frozen=False)
    dml.add_files_to_dataset([fid], "dune", "urgent_2")  # unfrozen


def test_create_namespace(fresh):
    _, dml = fresh
    dml.create_namespace("newns", owner="me")
    assert dml.cat.namespaces.where(F.col("name") == "newns").count() == 1
    with pytest.raises(DMLError, match="exists"):
        dml.create_namespace("newns")


def test_declare_with_checksums_and_parents(fresh):
    eng, dml = fresh
    parent = eng.cat.files.select("id").first()["id"]
    dml.declare_files([dict(
        id="fx1", namespace="dune", name="fx1.dat", size=10,
        metadata={"core.run": 1},
        checksums={"adler32": "0a0b0c0d", "md5": "ff"},
        parents=[parent])])
    row = (eng.cat.files.where(F.col("id") == "fx1")
           .select("checksums").first())
    assert dict(row["checksums"]) == {"adler32": "0a0b0c0d", "md5": "ff"}
    edges = (eng.cat.parent_child
             .where(F.col("child_id") == "fx1").collect())
    assert [(e["parent_id"], e["child_id"]) for e in edges] \
        == [(parent, "fx1")]


def test_declare_unknown_parent_rejected(fresh):
    _, dml = fresh
    with pytest.raises(DMLError, match="parent"):
        dml.declare_files([dict(
            id="fx2", namespace="dune", name="fx2.dat",
            metadata={"core.run": 1}, parents=["no-such-fid"])])


def test_update_file_attributes(fresh):
    eng, dml = fresh
    fid = eng.cat.files.select("id").first()["id"]
    dml.update_file(fid, size=777, checksums={"sha256": "aa"})
    row = (eng.cat.files.where(F.col("id") == fid)
           .select("size", "checksums", "updated_by").first())
    assert row["size"] == 777 and row["updated_by"] == "cli" \
        or row["updated_by"] == "admin"
    assert row["checksums"]["sha256"] == "aa"
    assert "adler32" in row["checksums"]        # merge keeps existing
    # replace mode drops the old keys
    dml.update_file(fid, checksums={"crc": "1"}, replace=True)
    row = (eng.cat.files.where(F.col("id") == fid)
           .select("checksums").first())
    assert dict(row["checksums"]) == {"crc": "1"}


def test_update_file_provenance_edges(fresh):
    eng, dml = fresh
    ids = [r["id"] for r in eng.cat.files.select("id").limit(4).collect()]
    target, p1, p2, c1 = ids
    before = eng.cat.parent_child.count()
    dml.update_file(target, parents=[p1, p2], children=[c1])
    pc = eng.cat.parent_child
    assert pc.where((F.col("child_id") == target)
                    & F.col("parent_id").isin([p1, p2])).count() == 2
    assert pc.where((F.col("parent_id") == target)
                    & (F.col("child_id") == c1)).count() == 1
    # re-adding is a no-op (PK semantics)
    n = pc.count()
    dml.update_file(target, parents=[p1])
    assert eng.cat.parent_child.count() == n
    # replace with '-' (empty list) removes all parents of target
    dml.update_file(target, parents=[], replace=True)
    assert eng.cat.parent_child.where(
        F.col("child_id") == target).count() == 0
    assert eng.cat.parent_child.where(
        F.col("parent_id") == target).count() >= 1
    with pytest.raises(DMLError, match="not found"):
        dml.update_file("no-such-fid", size=1)


def test_dml_404s_and_atomicity(fresh):
    """Review-r6 hardening: mutations of nonexistent targets raise
    instead of silently no-opping; declaring into a missing/frozen
    dataset fails BEFORE any rows were appended."""
    eng, dml = fresh
    cat = dml.cat
    with pytest.raises(DMLError):
        dml.update_file_metadata("no-such-fid", {"core.run": 1},
                                 mode="replace")
    with pytest.raises(DMLError):
        dml.retire_file("no-such-fid")
    with pytest.raises(DMLError):
        dml.move_files(["no-such-fid"], "elsewhere")
    with pytest.raises(DMLError):
        dml.update_dataset("nope", "nope", frozen=True)
    assert cat.datasets.where(                  # no phantom dataset
        F.col("namespace") == "nope").count() == 0
    n_before = cat.files.count()
    with pytest.raises(DMLError):
        dml.declare_files(
            [{"id": "atomic-1", "namespace": "test", "name": "a.dat"}],
            dataset=("nope", "nope"))
    assert cat.files.count() == n_before        # nothing appended


def test_save_as_frozen_updates_cache(fresh):
    """save_as(frozen=True) receives its own files but is frozen for
    later mutations (review r6: a flag cache once lagged here)."""
    eng, dml = fresh
    res = eng.query("files from dune:urgent_0 limit 3")
    n = dml.save_as(res, "test", "saved_frozen_r6", frozen=True)
    assert n == 3
    with pytest.raises(DMLError):
        dml.add_files_to_dataset(
            [r["id"] for r in res.select("id").collect()][:1],
            "test", "saved_frozen_r6")


def test_dataset_metadata_requirements_enforced(fresh):
    """Per-dataset file_meta_requirements (dbobjects2.py:1577-1597):
    files joining the dataset must satisfy them — both on
    add_files_to_dataset and on declare-into-dataset (review r6: the
    cache existed but nothing ever populated it)."""
    eng, dml = fresh
    dml.create_dataset(
        "test", "reqs_r6",
        file_meta_requirements={"core.run": {"type": "int",
                                             "required": True}})
    dml.declare_files([
        {"id": "rq-ok", "namespace": "test", "name": "ok.dat",
         "metadata": {"core.run": 7}},
        {"id": "rq-bad", "namespace": "test", "name": "bad.dat",
         "metadata": {}}])
    dml.add_files_to_dataset(["rq-ok"], "test", "reqs_r6")
    with pytest.raises(ValidationFailed):
        dml.add_files_to_dataset(["rq-bad"], "test", "reqs_r6")
    with pytest.raises(ValidationFailed):
        dml.declare_files(
            [{"id": "rq-bad2", "namespace": "test", "name": "b2.dat",
              "metadata": {}}], dataset=("test", "reqs_r6"))


def test_declared_files_get_created_timestamp(fresh):
    """Newly declared files carry a created_timestamp (reference
    schema DEFAULT now()) — NULL would drop them from every
    created_timestamp predicate (review r6)."""
    eng, dml = fresh
    dml.declare_files([{"id": "ts-r6", "namespace": "test",
                        "name": "ts.dat"}])
    row = dml.cat.files.where(F.col("id") == "ts-r6") \
        .select("created_timestamp").first()
    assert row["created_timestamp"] is not None


# ------------------------------------------------------ request-sized writes

_BIG_THREE = ("files", "files_datasets", "parent_child")


@pytest.fixture(scope="module")
def cycled(spark):
    """An in-memory catalog after 5 declare / add / edge cycles, with
    each big table's partition count from before the first write."""
    from metacat_spark.client import MetaCatSparkClient
    cat = from_tpch(spark, SF_DIR)
    start = {t: getattr(cat, t).rdd.getNumPartitions() for t in _BIG_THREE}
    client = MetaCatSparkClient(spark, catalog=cat)
    dml = client.dml
    parent = cat.files.select("id").first()["id"]
    for c in range(5):
        dml.declare_files(
            [{"id": f"cy{c}-{k}", "namespace": "dune",
              "name": f"cy{c}_{k}.dat", "metadata": {"core.run": k},
              "parents": [parent] if k == 0 else []} for k in range(6)],
            dataset=("dune", "urgent_2"))
        dml.add_files_to_dataset([f"cy{c}-1"], "dune", "urgent_3")
        dml.update_file(f"cy{c}-2", parents=[parent])
    yield cat, start, client
    client._pool.shutdown(wait=True)


def test_appends_keep_partition_count(cycled):
    """Every union of a request's rows into a big table keeps the
    table at the partition count it started with (a plain union added
    the delta's partitions on each write)."""
    cat, start, _ = cycled
    assert {t: getattr(cat, t).rdd.getNumPartitions()
            for t in _BIG_THREE} == start
    assert cat.files.where(F.col("id").startswith("cy")).count() == 30
    assert cat.parent_child.where(
        F.col("child_id").startswith("cy")).count() == 10


def test_streamed_read_back_after_writes_is_one_job(spark, cycled):
    """A json-seq read-back streams one partition per job: after the
    cycles it still runs a single job."""
    from conftest import spark_jobs
    cat, _, client = cycled
    cat.files.count()           # computes the resident version
    got = []
    jobs = spark_jobs(spark, lambda: got.extend(client.query_iter(
        "fids cy4-1, cy0-3", with_metadata=True)))
    assert sorted(r["id"] for r in got) == ["cy0-3", "cy4-1"]
    assert len(jobs) == 1, jobs


def test_membership_add_is_one_probe_per_table(spark):
    """An in-memory membership add reads the files and membership rows
    of exactly the requested ids, one single-stage job each: the
    already-member check runs on the driver, with no anti-join."""
    from conftest import spark_jobs
    cat = from_tpch(spark, SF_DIR)
    dml = DML(cat)
    fid = cat.files.select("id").first()["id"]
    cat.files_datasets.count()
    added = []
    jobs = spark_jobs(spark, lambda: added.append(
        dml.add_files_to_dataset([fid], "dune", "urgent_3")))
    assert added == [1]
    assert len(jobs) <= 2 and all(n == 1 for n in jobs), jobs


def test_driver_rows_plan_as_local_relations(spark, tmp_path):
    """The fixture's literal tables are local relations, not RDDs of
    pickled Python rows, and the rows a declare or a membership add
    journals are the Arrow tables the request built on the driver."""
    import pyarrow as pa
    from metacat_spark.durable import DurableStore
    cat = from_tpch(spark, SF_DIR)
    store = DurableStore(spark, str(tmp_path / "durable"))
    journaled = []
    commit = store.commit

    def recording_commit(ops):
        journaled.extend(ops)
        commit(ops)
    store.commit = recording_commit
    dml = DML(cat, store=store)
    dml.declare_files([{"id": f"lr-{k}", "namespace": "test",
                        "name": f"lr{k}.dat", "metadata": {"core.run": k}}
                       for k in range(5)], dataset=("dune", "urgent_2"))
    dml.add_files_to_dataset(["lr-1"], "dune", "urgent_3")
    tables = [getattr(cat, t) for t in (
        "datasets", "datasets_parent_child", "namespaces", "queries_tbl",
        "parameter_categories")]
    deltas = [rows for kind, _, rows in journaled if kind == "upsert"]
    assert [t for _, t, _ in journaled] == \
        ["files", "files_datasets", "files_datasets"]
    assert all(isinstance(rows, pa.Table) for rows in deltas), deltas
    for df in tables:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_small_table_writes_run_no_jobs(spark, fresh):
    """Every version of a small table is a local relation built on the
    driver, so each write to one runs no Spark job, its durable commit
    included, also on the tables an earlier write made (the second
    round). Removing a dataset runs at most the one job of its
    membership rows, a declare into a DML-made dataset runs only its
    two probes of the file-keyed tables, and a closure over DML-written
    edges compiles in none."""
    from conftest import spark_jobs
    eng, dml = fresh
    for r in range(2):
        writes = {
            "create_dataset": lambda: dml.create_dataset("test", f"jb{r}"),
            "update_dataset": lambda: dml.update_dataset(
                "test", f"jb{r}", metadata={"data.type": "mc"},
                description="updated"),
            "add_subset": lambda: dml.add_subset("test", "all",
                                                 "test", f"jb{r}"),
            "create_namespace": lambda: dml.create_namespace(f"jb{r}"),
            "create_named_query": lambda: dml.create_named_query(
                "test", f"jb{r}", "files from test:all"),
            "update_named_query": lambda: dml.create_named_query(
                "test", f"jb{r}", f"files from test:jb{r}", update=True),
            "create_parameter_category": lambda:
                dml.create_parameter_category(f"jb{r}"),
        }
        jobs = {kind: spark_jobs(spark, write)
                for kind, write in writes.items()}
        assert jobs == dict.fromkeys(writes, []), (r, jobs)
    assert dml.cat.named_query_source("test", "jb1") == "files from test:jb1"
    declare = spark_jobs(spark, lambda: dml.declare_files(
        [{"id": "jb-0", "namespace": "test", "name": "jb0.dat",
          "metadata": {"core.run": 1}}], dataset=("test", "jb1")))
    assert len(declare) == 2, declare
    mql = "datasets test:all with subsets recursively"
    assert {("test", "jb0"), ("test", "jb1")} <= {
        (r["namespace"], r["name"]) for r in eng.query(mql).collect()}
    assert spark_jobs(spark, lambda: eng.query(mql)) == []
    assert len(spark_jobs(spark, lambda: dml.remove_dataset(
        "test", "jb0"))) <= 1
    assert ("test", "jb0") not in {
        (r["namespace"], r["name"]) for r in eng.query(mql).collect()}
