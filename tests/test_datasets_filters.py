"""Dataset queries, query-queries, summaries, and MQL filters."""

import zlib

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, ids_of, spark_jobs

from metacat_spark.catalog import from_tpch
from metacat_spark.dml import DML
from metacat_spark.engine import Engine


def ds_names(df):
    return sorted((r["namespace"], r["name"])
                  for r in df.select("namespace", "name").collect())


def test_dataset_matching_pattern(engine):
    got = ds_names(engine.query("datasets matching dune:urgent_*"))
    assert got == [("dune", f"urgent_{i}") for i in range(4)]


def test_dataset_matching_regexp(engine):
    got = ds_names(engine.query(
        'datasets matching regexp dune:"^(urgent|low)_[01]$"'))
    assert got == [("dune", "low_0"), ("dune", "low_1"),
                   ("dune", "urgent_0"), ("dune", "urgent_1")]


def test_dataset_having(engine):
    got = ds_names(engine.query(
        'datasets matching dune:* having data.type = "mc"'))
    assert got == [("dune", f"medium_{i}") for i in range(4)]
    got = ds_names(engine.query(
        "datasets matching mc:flag_* having detector.id = near"))
    assert got == [("mc", "flag_r")]


def test_dataset_attr_having(engine):
    got = ds_names(engine.query(
        "datasets matching dune:urgent_* having frozen = true"))
    assert got == [("dune", "urgent_0")]


def test_dataset_with_subsets(engine):
    got = ds_names(engine.query("datasets test:all with subsets"))
    assert got == [("mc", "flag_a"), ("mc", "flag_n"), ("mc", "flag_r"),
                   ("test", "all")]


def test_dataset_with_subsets_recursively_cycle_guard(engine):
    """Transitive closure must terminate despite the low_0 ↔ low_1 cycle
    (fixture parity with dbobjects2.py:1068-1078) and include each node
    once."""
    got = ds_names(engine.query("datasets test:all with subsets recursively"))
    assert got == [("dune", "high_0"), ("dune", "high_1"),
                   ("dune", "low_0"), ("dune", "low_1"),
                   ("dune", "urgent_0"), ("dune", "urgent_1"),
                   ("mc", "flag_a"), ("mc", "flag_n"), ("mc", "flag_r"),
                   ("test", "all")]


_RECURSIVE = ["datasets test:all with subsets recursively",
              "files from test:all with subsets recursively",
              "files from mc:flag_n with subsets recursively",
              "datasets dune:urgent_0 with ancestors recursively"]


def test_closures_compile_without_jobs(spark, engine):
    """Over the fixture's local tables a closure is walked on the
    driver: compiling it runs no Spark job."""
    for mql in _RECURSIVE:
        assert spark_jobs(spark, lambda: engine.query(mql)) == [], mql


def test_closure_cost_does_not_grow_with_depth(spark):
    """A chain of 20 datasets closed into a cycle, written by DML, so
    ``datasets`` and its edges are tables DML built on the driver:
    either direction reaches all 20 from anywhere, and compiles in no
    Spark job (the seeds and the edges are collected from local
    relations), not one per level."""
    cat = from_tpch(spark, SF_DIR)
    eng, dml = Engine(cat), DML(cat)
    chain = [f"chain_{i}" for i in range(20)]
    for name in chain:
        dml.create_dataset("test", name)
    for parent, child in zip(chain, chain[1:] + chain[:1]):
        dml.add_subset("test", parent, "test", child)
    for mql in ("datasets test:chain_0 with subsets recursively",
                "datasets test:chain_10 with ancestors recursively"):
        assert ds_names(eng.query(mql)) == sorted(
            ("test", n) for n in chain), mql
        assert spark_jobs(spark, lambda: eng.query(mql)) == [], mql


def test_files_from_dataset_with_subsets(engine):
    """files from mc:flag_n with subsets recursively = flag_n plus files
    of dune:low_0 and dune:low_1."""
    got = ids_of(engine.query(
        "files from mc:flag_n with subsets recursively"))
    want = ids_of(engine.query(
        "union(files from mc:flag_n, files from dune:low_0, "
        "files from dune:low_1)"))
    # sets: union() dedups by id while membership semi-join keeps the
    # fixture's one fully-duplicated source row duplicated
    assert set(got) == set(want) and got


def test_query_query(engine):
    got = ds_names(engine.query("queries matching dune:*"))
    assert got == [("dune", "favorite_x"), ("dune", "recent")]
    got = ds_names(engine.query("queries where file.quality > 2"))
    assert got == [("dune", "favorite_x"), ("mc", "prod_2023")]
    got = ds_names(engine.query(
        'queries matching regexp test:"^nest" where file.type = mql'))
    assert got == [("test", "nested")]


def test_summary_keys(engine):
    keys = sorted(r["key"] for r in
                  engine.query("files from test:all", summary="keys")
                  .collect())
    assert keys == sorted(["core.run", "core.x", "core.data_type",
                           "core.version", "core.timestamp", "core.good",
                           "core.runs", "detector.modules",
                           "data.trigger_bits", "data.sequence",
                           "beam.status", "prod.comment"])


def test_summary_key_values(engine):
    kv = {(r["key"], r["value"]) for r in
          engine.query("files from dune:urgent_0", summary="key-values")
          .collect()}
    data_types = {v for k, v in kv if k == "core.data_type"}
    assert data_types == {"mc", "data", "calibration"}
    beams = {v for k, v in kv if k == "beam.status"}
    assert beams == {"on", "off"}


def test_filter_limit(engine):
    assert engine.query(
        "filter limit(7)(files from dune:urgent_0)").count() == 7


def test_filter_sample_accumulator(engine):
    """filter sample(f) replays the reference accumulator
    (filters.py:52-69): over id order, keep i where
    floor((i+1)f) > floor(i·f)."""
    base = ids_of(engine.query("files from dune:urgent_0"))
    got = ids_of(engine.query(
        "filter sample(0.25)(files from dune:urgent_0)"))
    acc, want = 0.0, []
    for i, fid in enumerate(base):
        acc += 0.25
        if acc >= 1.0:
            want.append(fid)
            acc -= 1.0
    assert got == want
    assert abs(len(got) - len(base) * 0.25) <= 1


def test_filter_stride(engine):
    base = ids_of(engine.query("files from dune:urgent_1"))
    got = ids_of(engine.query(
        "filter every_nth(5, 2)(files from dune:urgent_1)"))
    want = [fid for i, fid in enumerate(base) if i % 5 == 2]
    assert got == want


def test_filter_hash_adler32(engine):
    """hash(m, r): adler32(file_id) % m == r — our JVM-side adler32 must
    agree with zlib.adler32 (parity: filters.py:105-123)."""
    base = ids_of(engine.query("files from dune:high_0"))
    got = ids_of(engine.query("filter hash(4, 1)(files from dune:high_0)"))
    want = [fid for fid in base
            if zlib.adler32(fid.encode()) % 4 == 1]
    assert got == want and got
    # partitions are disjoint and complete
    parts = [ids_of(engine.query(
        f"filter hash(4, {r})(files from dune:high_0)")) for r in range(4)]
    assert sorted(sum(parts, [])) == base


def test_adler32_column_unit(spark):
    from metacat_spark.filters import adler32_column
    vals = ["f00000001", "hello world", "x", "run_000042_0001.data"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: r["a"] for r in
           df.select("s", adler32_column(F.col("s")).alias("a")).collect()}
    for v in vals:
        assert got[v] == zlib.adler32(v.encode()), v


def test_filter_randomize_set_preserving(engine):
    base = ids_of(engine.query("files from dune:high_1"))
    got = ids_of(engine.query(
        "filter randomize(7)(files from dune:high_1)"))
    assert got == base
    # deterministic order for a given seed
    a = [r["id"] for r in engine.query(
        "filter randomize(7)(files from dune:high_1)").collect()]
    b = [r["id"] for r in engine.query(
        "filter randomize(7)(files from dune:high_1)").collect()]
    assert a == b
    c = [r["id"] for r in engine.query(
        "filter randomize(8)(files from dune:high_1)").collect()]
    assert a != c


def test_filter_mix(engine):
    """mix stops when the first input exhausts; output is dedup'd by id
    and proportional (filters.py:151-191)."""
    got = ids_of(engine.query(
        "filter mix(2, 1)(files from dune:urgent_0, files from dune:low_0)"))
    a = ids_of(engine.query("files from dune:urgent_0"))
    b = ids_of(engine.query("files from dune:low_0"))
    assert set(got) <= set(a) | set(b)
    assert len(got) == len(set(got))
    # proportionality: roughly 2:1 draw ratio until one side exhausts
    n_a = len([x for x in got if x in set(a)])
    n_b = len(got) - n_a
    assert n_a > n_b


def test_filter_sample_hash_scalable(engine):
    base = ids_of(engine.query("files from test:all"))
    got = ids_of(engine.query("filter sample_hash(0.2)(files from test:all)"))
    assert set(got) < set(base)
    assert abs(len(got) / len(base) - 0.2) < 0.05


def test_unknown_filter_raises(engine):
    with pytest.raises(Exception, match="unknown filter"):
        engine.query("filter nosuch(1)(files from test:all)").count()
