"""User-filter enrichment, with_provenance output, jsonpath escape
hatch, named-query cycle detection, CLI smoke."""

import json

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


def test_enrich_filter_merges_metadata(engine):
    rows = (engine.query(
        "filter enrich(source=demo)(files from dune:urgent_0 limit 20)",
        with_meta=True).collect())
    assert len(rows) == 20
    for r in rows:
        meta = json.loads(r["metadata"])
        assert meta["ext.tag"] == r["id"][-4:]
        assert "core.run" in meta  # original metadata preserved


def test_enrich_then_where_on_new_key(engine):
    """Enriched keys are queryable via the JSON fallback path — the
    compiler can't shred keys it first sees mid-plan."""
    df = engine.query(
        'filter enrich(source=demo)(files from dune:urgent_0 limit 20) '
        'where ext.tag present')
    assert df.count() == 20


def test_with_provenance_output(engine, duck):
    df = engine.query("files from test:all where core.run in 10:12",
                      with_provenance=True)
    rows = df.collect()
    assert {"parents", "children"} <= set(df.columns)
    by_id = {r["id"]: r for r in rows}
    # oracle: recompute the expected parent from the fixture rule
    FID = ("printf('f%09d%d%07d%05d', l_orderkey, l_linenumber, "
           "l_partkey, l_suppkey)")
    pc = duck.execute(f"""
        select parent_id, child_id from (
          select min({FID}) over (partition by l_orderkey) as parent_id,
                 {FID} as child_id from lineitem) t
        where parent_id <> child_id""").fetchall()
    parents = {}
    children = {}
    for p, c in pc:
        parents.setdefault(c, []).append(p)
        children.setdefault(p, []).append(c)
    checked = 0
    for fid, r in by_id.items():
        want_p = sorted(parents.get(fid, []))
        want_c = sorted(children.get(fid, []))
        got_p = sorted(r["parents"] or [])
        got_c = sorted(r["children"] or [])
        assert got_p == want_p and got_c == want_c, fid
        checked += 1
    assert checked > 0


def test_jsonpath_exists_escape_hatch(engine):
    got = engine.query(
        'files from dune:urgent_0 where exists "$[\'beam.status\']"')
    want = engine.query(
        "files from dune:urgent_0 where beam.status present")
    a = sorted(r["id"] for r in got.select("id").collect())
    b = sorted(r["id"] for r in want.select("id").collect())
    assert a == b and a


def test_named_query_cycle_detection(engine):
    from pyspark.sql import Row
    cat = engine.cat
    extra = cat.spark.createDataFrame(
        [("test", "loop_a", "files selected by test:loop_b",
          1, "mql", "x", "d"),
         ("test", "loop_b", "files selected by test:loop_a",
          1, "mql", "x", "d")],
        cat.queries_tbl.columns[:7])
    extra = extra.withColumn("metadata", F.lit("{}"))
    old = cat.queries_tbl
    cat.publish(queries_tbl=old.unionByName(extra.select(*old.columns)))
    try:
        with pytest.raises(Exception, match="cycle"):
            engine.query("files selected by test:loop_a").count()
    finally:
        cat.publish(queries_tbl=old)


def test_cli_smoke(capsys):
    from metacat_spark.cli import main
    rc = main(["query", "files from dune:urgent_0 ordered limit 3",
               "--sf-dir", SF_DIR, "-j"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 3
    assert json.loads(out[0])["namespace"] == "dune"


def test_cli_explain(capsys):
    from metacat_spark.cli import main
    rc = main(["query", "files from dune:urgent_0 where core.run > 5",
               "--sf-dir", SF_DIR, "-x"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "MQL AST" in out and "Physical Plan" in out

def test_enrichment_updates_shredded_predicates(spark, engine):
    """A where-clause AFTER `filter enrich` must see the ENRICHED
    metadata (review r6: shredded m_* columns stayed stale, so the
    predicate used pre-enrichment values while with_meta showed the
    new ones)."""
    from metacat_spark.filters.enrichment import register_lookup

    def boost(ids):
        return {i: {"core.run": 999999} for i in ids}
    register_lookup("boost_r6", boost)
    out = engine.query(
        "filter enrich(source=boost_r6)"
        "(files from dune:urgent_0) where core.run = 999999")
    n = out.count()
    want = engine.query("files from dune:urgent_0").count()
    assert n == want and n > 0
