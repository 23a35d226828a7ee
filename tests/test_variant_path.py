"""Spark 4 VariantType unshredded-metadata path: must match both the
shredded path and the get_json_object fallback on every predicate."""

import pytest
from pyspark.sql import functions as F

from conftest import ids_of

from metacat_spark.predicate import PredicateCompiler
from metacat_spark.schema import FILE_ATTRIBUTES, MetaSchema

CASES = [
    "core.run > 250 and core.x <= 0.5",
    "beam.status present and detector.modules not present",
    'beam.status = "on" or core.good = true',
    "core.runs[any] > 490",
    "data.sequence[all] < 9",
    "len(data.sequence) > 5",
    "data.sequence[2] = 2",
    'data.trigger_bits["muon"] = 1',
    "42 in core.runs",
    "core.run in 100:200",
    "core.data_type in (mc, data)",
    '!(beam.status = "on")',
    'core.timestamp > datetime("1996-06-01")',
    "core.timestamp = date(1995-06-15)",
    'exists "$[\'beam.status\']"',
]


@pytest.fixture(scope="module")
def variant_engine(engine):
    """Engine whose file predicates resolve ONLY via a variant column
    (no shredded columns, no JSON-string fallback)."""
    import copy
    cat = engine.cat
    files_v = cat.files.withColumn("metadata_v", F.parse_json("metadata"))
    eng = copy.copy(engine)
    eng.cat = copy.copy(cat)
    eng.cat.publish(files=files_v)
    eng.file_pred = PredicateCompiler(MetaSchema([]), FILE_ATTRIBUTES,
                                      json_column=None,
                                      variant_column="metadata_v")
    return eng


@pytest.mark.parametrize("where", CASES)
def test_variant_matches_shredded(where, engine, variant_engine):
    shredded = ids_of(engine.query(f"files from test:all where {where}"))
    variant = ids_of(variant_engine.query(
        f"files from test:all where {where}"))
    assert variant == shredded, where
    assert shredded  # non-trivial case


def test_variant_warehouse_mode(spark, engine):
    """The variant=True warehouse build: files persisted with ONE
    native VariantType column and no shredded m_* columns; the engine
    compiles predicates through variant_get and matches the shredded
    warehouse on every case."""
    from conftest import SF_DIR

    from metacat_spark.catalog import from_materialized
    from metacat_spark.engine import Engine
    vcat = from_materialized(spark, SF_DIR, variant=True)
    assert vcat.file_variant_column == "metadata_v"
    assert "metadata_v" in vcat.files.columns
    assert not [c for c in vcat.files.columns if c.startswith("m_")]
    assert vcat.ids_unique is not None  # invariant rides along
    veng = Engine(vcat)
    for where in CASES[:6]:
        got = ids_of(veng.query(f"files from test:all where {where}"))
        want = ids_of(engine.query(
            f"files from test:all where {where}"))
        assert got == want, where


def test_variant_dml_metadata_stays_fresh(spark):
    """DML over a variant-mode catalog must keep metadata_v in sync:
    an updated value is immediately queryable through try_variant_get,
    and a freshly declared file is visible to metadata predicates
    (review r6: the variant column used to go stale/NULL)."""
    import copy

    from metacat_spark.catalog import from_tpch
    from metacat_spark.dml import DML
    from metacat_spark.engine import Engine
    from conftest import SF_DIR as _SF

    cat = from_tpch(spark, _SF)
    cat = copy.copy(cat)
    cat.publish(files=cat.files.withColumn(
        "metadata_v", F.parse_json("metadata")))
    eng = Engine(cat)
    eng.file_pred = PredicateCompiler(MetaSchema([]), FILE_ATTRIBUTES,
                                      json_column=None,
                                      variant_column="metadata_v")
    dml = DML(cat)
    fid = cat.files.select("id").first()["id"]
    dml.update_file_metadata(fid, {"core.run": 999999})
    got = ids_of(eng.query("files where core.run = 999999",
                           include_retired=True))
    assert got == [fid]
    dml.declare_files([{"id": "vnew-1", "namespace": "test",
                        "name": "vnew.dat",
                        "metadata": {"core.run": 888888}}])
    got = ids_of(eng.query("files where core.run = 888888"))
    assert got == ["vnew-1"]


def test_variant_key_values_summary_hostile_keys(spark):
    """Variant-mode key-values summary must survive (a) metadata keys
    containing quote characters — the variant path grammar has no
    escapes and a malformed path THROWS even under try_variant_get
    (review r7: the single-quote-only concat crashed the whole
    summary) — and (b) schema-free numbers outside decimal(38,6)
    range, which abort a plain ANSI cast. Keys with BOTH quote kinds
    are inexpressible in the path grammar and drop (documented)."""
    import json

    from metacat_spark.catalog import from_dataframes
    from metacat_spark.engine import Engine
    from metacat_spark.schema import MetaSchema

    meta = {"it's": 7, 'he said "hi"': "ok", "big": 1e33,
            "plain": 1.5, """b'o"th""": 1}
    files = spark.createDataFrame(
        [("q1", "qns", "f.dat", 10, False, json.dumps(meta))],
        "id string, namespace string, name string, size long, "
        "retired boolean, metadata string")
    fd = spark.createDataFrame(
        [("q1", "qns", "all")],
        "file_id string, dataset_namespace string, "
        "dataset_name string")
    cat = from_dataframes(spark, files, fd, file_meta=MetaSchema([]))
    cat.publish(files=cat.files.withColumn(
        "metadata_v", F.parse_json("metadata")))
    cat.file_variant_column = "metadata_v"
    eng = Engine(cat)
    rows = {r["key"]: (r["vtype"], r["value"])
            for r in eng.query("files from qns:all",
                               summary="key-values").collect()}
    assert rows["it's"] == ("number", "7")
    assert rows['he said "hi"'] == ("string", "ok")
    # out-of-decimal-range number falls back to its raw rendering
    # instead of an ANSI CAST_OVERFLOW abort
    assert rows["big"][0] == "number" and rows["big"][1]
    assert rows["plain"] == ("number", "1.500000")
    assert """b'o"th""" not in rows          # inexpressible -> dropped
