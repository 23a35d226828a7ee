"""End-to-end engine tests against the DuckDB oracle at sf0.001.

Each test runs an MQL query through the Spark engine and the
hand-translated SQL through DuckDB over the same parquet, comparing
file-id sets (file sets are unordered — SURVEY §5)."""

import re

import pytest

from metacat_spark.catalog import from_tpch
from metacat_spark.fixtures import oracle_query

from conftest import duck_ids, ids_of

FID = ("printf('f%09d%d%07d%05d', l_orderkey, l_linenumber, "
       "l_partkey, l_suppkey)")
ACTIVE = "l_orderkey % 20 <> 0"  # not retired

# membership condition templates over lineitem (joined to orders)
DUNE_DS = ("case substr(o_orderpriority,1,1) when '1' then 'urgent' "
           "when '2' then 'high' when '3' then 'medium' "
           "when '4' then 'notspec' else 'low' end || '_' || "
           "cast(o_orderkey % 4 as varchar)")


def in_dune(name):
    return (f"l_orderkey in (select o_orderkey from orders where "
            f"{DUNE_DS} = '{name}')")


def test_bfq_single_dataset(engine, duck):
    got = ids_of(engine.query("files from dune:urgent_0"))
    want = duck_ids(duck, f"""
        select {FID} from lineitem
        where {ACTIVE} and {in_dune('urgent_0')}""")
    assert got == want and len(got) > 0


def test_bfq_where(engine, duck):
    got = ids_of(engine.query(
        "files from dune:urgent_0 where core.run > 250 and core.x <= 0.5"))
    want = duck_ids(duck, f"""
        select {FID} from lineitem
        where {ACTIVE} and {in_dune('urgent_0')}
          and l_orderkey % 500 > 250 and l_discount * 10 <= 0.5""")
    assert got == want and len(got) > 0


def test_bfq_multi_dataset_dedup(engine, duck):
    # mc:flag_r overlaps test:all memberships → distinct-by-id semantics
    got = ids_of(engine.query("files from mc:flag_r, test:all"))
    # left-semi membership join never duplicates; the source's one
    # fully-duplicated row stays duplicated on both sides (no distinct)
    want = duck_ids(duck, f"""
        select {FID} from lineitem where {ACTIVE}""")
    assert got == want


def test_union_minus_join(engine, duck):
    got = ids_of(engine.query(
        "union(files from mc:flag_r, files from mc:flag_a) "
        "- files from dune:urgent_0"))
    want = duck_ids(duck, f"""
        select {FID} from lineitem
        where {ACTIVE} and lower(l_returnflag) in ('r','a')
          and not ({in_dune('urgent_0')})""")
    assert got == want

    got = ids_of(engine.query(
        "join(files from mc:flag_r, files from test:all where core.good = true)"))
    want = duck_ids(duck, f"""
        select {FID} from lineitem
        where {ACTIVE} and lower(l_returnflag) = 'r' and l_quantity > 25""")
    assert got == want


def test_set_op_fast_path_matches_legacy(engine):
    """The id-set fast path (unique-id catalogs) must select the same
    file-id SETS as the multiplicity-exact legacy path; only dup-id
    multiplicity may differ (the sf0.001 fixture's one duplicated row,
    DIVERGENCES §6)."""
    queries = [
        "union(files from mc:flag_r, files from mc:flag_a) "
        "- files from dune:urgent_0",
        "join(files from mc:flag_r, files from test:all "
        "where core.good = true)",
        "union(files from dune:low_0, files from dune:low_1) "
        "- files from dune:low_2",
    ]
    saved = engine.cat.ids_unique
    try:
        results = {}
        for forced in (False, True):
            engine.cat.publish(ids_unique=forced)
            results[forced] = [sorted(set(ids_of(engine.query(q))))
                               for q in queries]
            results[forced].append(sorted(set(ids_of(
                engine.query(queries[0], include_retired=True)))))
        assert results[True] == results[False]
    finally:
        engine.cat.publish(ids_unique=saved)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fixture_tables_are_resident(catalog):
    """from_tpch's derived tables are computed once and cached: each
    plans as a scan of its resident rows, never the raw parquet."""
    for name in ("files", "files_datasets", "parent_child"):
        plan = _plan(getattr(catalog, name))
        assert "Scan ExistingRDD" in plan and "FileScan" not in plan, \
            f"{name}: {plan}"


def test_unreadable_raw_table_raises(spark, tmp_path):
    """Absent raw tables are skipped by an existence check; one that
    exists but cannot be read fails the build instead of vanishing."""
    (tmp_path / "region.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="region.parquet"):
        from_tpch(spark, str(tmp_path))


def test_bfq_union_ids_not_deduplicated(engine):
    """The set-algebra path's final semi-join emits each file once, so
    the id-set union needs no aggregation on id."""
    saved = engine.cat.ids_unique
    try:
        engine.cat.publish(ids_unique=True)
        plan = _plan(engine.query(
            "union(files from mc:flag_r, files from dune:urgent_0 "
            "where core.run > 100)"))
    finally:
        engine.cat.publish(ids_unique=saved)
    assert "LeftSemi" in plan
    assert not re.search(r"HashAggregate\(keys=\[id#", plan), plan


def test_join_where_equivalence(engine):
    """join(A where p, A where q) ≡ A where p and q (docs/mql.rst:227-243)."""
    a = ids_of(engine.query(
        "join(files from test:all where core.good = true, "
        "files from test:all where core.run > 100)"))
    b = ids_of(engine.query(
        "files from test:all where core.good = true and core.run > 100"))
    assert a == b and len(a) > 0


PC = (f"(select parent_id, child_id from ("
      f"select min({FID}) over (partition by l_orderkey) as parent_id, "
      f"{FID} as child_id from lineitem) t "
      f"where parent_id <> child_id)")


def test_parents_children(engine, duck):
    got = ids_of(engine.query(
        "parents(files from test:all where core.run in 10:50)"))
    # parents() does not itself filter retired (sql_converter.py:165-192),
    # but its argument set does
    want = duck_ids(duck, f"""
        select {FID} from lineitem
        where {FID} in (
          select pc.parent_id from {PC} pc
          where pc.child_id in (
            select {FID} from lineitem
            where {ACTIVE} and l_orderkey % 500 between 10 and 50))""")
    assert got == want and len(got) > 0

    got2 = ids_of(engine.query(
        "children(files from test:all where core.run in 10:50)"))
    want2 = duck_ids(duck, f"""
        select {FID} from lineitem
        where {FID} in (
          select pc.child_id from {PC} pc
          where pc.parent_id in (
            select {FID} from lineitem
            where {ACTIVE} and l_orderkey % 500 between 10 and 50))""")
    assert got2 == want2 and len(got2) > 0


def test_no_children_idiom(engine):
    """ds - parents(children(ds)) = files with no children in ds."""
    got = ids_of(engine.query(
        "files from dune:high_1 - parents(children(files from dune:high_1))"))
    all_ids = ids_of(engine.query("files from dune:high_1"))
    parents = ids_of(engine.query(
        "parents(children(files from dune:high_1))"))
    assert got == sorted(set(all_ids) - set(parents))


def test_skip_limit_merge_law(engine):
    """skip 100 limit 1000 skip 10 skip 5 limit 50 ≡ skip 115 limit 50
    (docs/mql.rst:749-787); limit 50 skip 50 ≡ empty."""
    q = "files from test:all"
    a = [r["id"] for r in engine.query(
        f"{q} skip 100 limit 1000 skip 10 skip 5 limit 50").collect()]
    b = [r["id"] for r in engine.query(f"{q} skip 115 limit 50").collect()]
    assert a == b and len(a) == 50
    assert engine.query(f"{q} limit 50 skip 50").count() == 0


def test_skip_forces_ordered(engine, duck):
    got = [r["id"] for r in
           engine.query("files from test:all skip 10 limit 5").collect()]
    want = duck_ids(duck, f"""
        select id from (
          select {FID} as id from lineitem where {ACTIVE}
          order by id limit 5 offset 10) t""")
    assert got == sorted(want) and len(got) == 5


def test_ordered_limit(engine, duck):
    got = [r["id"] for r in
           engine.query("files from test:all ordered limit 20").collect()]
    want = sorted(duck_ids(duck, f"""
        select id from (
          select {FID} as id from lineitem where {ACTIVE}
          order by id limit 20) t"""))
    assert got == want


def test_fids_and_did_list(engine, duck):
    # fid of (first order, line 1); file lists do NOT filter retired
    some = duck.execute(f"""
        select {FID}, l_orderkey from lineitem
        where l_orderkey % 20 = 0 and l_linenumber = 1 limit 2""").fetchall()
    fids = [r[0] for r in some]
    got = ids_of(engine.query(f"fids {fids[0]}, {fids[1]}"))
    assert got == sorted(fids)


def test_named_query(engine, duck):
    got = ids_of(engine.query("files selected by dune:favorite_x"))
    want = duck_ids(duck, f"""
        select {FID} from lineitem
        where {ACTIVE} and {in_dune('urgent_0')} and l_discount * 10 > 0.5""")
    assert got == want


def test_named_query_nested(engine, duck):
    got = ids_of(engine.query("files selected by test:nested"))
    want = duck_ids(duck, f"""
        select {FID} from lineitem
        where {ACTIVE} and {in_dune('urgent_0')}
          and l_discount * 10 > 0.5 and l_quantity > 25""")
    assert got == want


def test_summary_count(engine, duck):
    row = engine.query("files from test:all", summary="count").collect()[0]
    want = duck.execute(f"""
        select count(*), sum(cast(round(l_extendedprice * 1000) as bigint))
        from lineitem where {ACTIVE}""").fetchone()
    assert row["count"] == want[0] and row["total_size"] == want[1]


def test_include_retired(engine, duck):
    got = ids_of(engine.query("files from test:all", include_retired=True))
    want = duck_ids(duck, f"select {FID} from lineitem")
    assert got == want


def test_cursor_pagination_equivalence(engine):
    """Scale-path pagination: id-cursor pages must equal skip-based
    pages (docs/SCALING.md) — and compile to a pruned scan + top-k
    instead of a global sort."""
    page1 = [r["id"] for r in
             engine.query("files from test:all ordered limit 50").collect()]
    last = page1[-1]
    page2_skip = [r["id"] for r in engine.query(
        "files from test:all skip 50 limit 50").collect()]
    page2_cursor = [r["id"] for r in engine.query(
        f'files from test:all where id > "{last}" ordered limit 50')
        .collect()]
    assert page2_cursor == page2_skip and len(page2_cursor) == 50


def test_files_with_ancestors_expands(engine):
    """`files from ds with ancestors` must pull files of ANCESTOR
    datasets too (review r6: the membership fast path ignored
    with_ancestors and silently returned only the literal dataset).
    Fixture chain: dune:urgent_0 -> mc:flag_r -> test:all."""
    direct = engine.query("files from dune:urgent_0").count()
    anc = engine.query(
        "files from dune:urgent_0 with ancestors recursively").count()
    ds = {(r["namespace"], r["name"]) for r in engine.query(
        "datasets dune:urgent_0 with ancestors recursively")
        .select("namespace", "name").collect()}
    assert ("test", "all") in ds and ("mc", "flag_r") in ds
    assert anc > direct
    # closure result == union of the member files of every closure ds
    # (compare DISTINCT ids: the fixture plants one duplicate file id,
    # which union's distinct-by-id collapses while the raw membership
    # select keeps both rows — reference select semantics)
    want = engine.query(
        "union(files from dune:urgent_0, files from mc:flag_r, "
        "files from test:all)").select("id").distinct().count()
    got = engine.query(
        "files from dune:urgent_0 with ancestors recursively") \
        .select("id").distinct().count()
    assert got == want


def test_const_in_array_value_no_substring_false_positive(spark):
    """`"a" in k` over an UNSHREDDED array value must use membership,
    not substring over the serialized JSON text (review r6: 'a' used
    to match the text '["cat"]')."""
    from metacat_spark.predicate import PredicateCompiler
    from metacat_spark.schema import FILE_ATTRIBUTES, MetaSchema
    from metacat_spark.mql import parse
    from metacat_spark.mql.ast import FileQuery

    df = spark.createDataFrame(
        [(1, '{"tags": ["cat", "dog"]}'),
         (2, '{"tags": "a scalar string"}'),
         (3, '{"tags": ["a"]}')],
        "rid int, metadata string")
    pc = PredicateCompiler(MetaSchema([]), {}, json_column="metadata")
    q = parse('files where "a" in tags')
    assert isinstance(q, FileQuery)
    where = q.tree.exp          # top-level WhereOp carries the exp
    got = sorted(r["rid"] for r in
                 df.where(pc.compile(where)).collect())
    # rid 1: no element == "a", and substring-in-serialization must
    # NOT fire; rid 2: scalar string substring semantics -> matches;
    # rid 3: true membership
    assert got == [2, 3]


def test_glob_underscore_is_literal(engine, spark):
    """Dataset glob '_' is a LITERAL character, not LIKE's any-char
    wildcard (review r6: 'urgent_*' matched a hypothetical
    'urgentX0'). Verified against an in-memory catalog carrying a
    near-miss name."""
    import copy
    from pyspark.sql import functions as F
    from metacat_spark.engine import Engine
    cat = copy.copy(engine.cat)
    trap = engine.cat.datasets.limit(1).withColumn(
        "name", F.lit("urgentX0")).withColumn(
        "namespace", F.lit("dune"))
    cat.publish(datasets=engine.cat.datasets.unionByName(trap))
    eng2 = Engine(cat)
    names = {r["name"] for r in eng2.query(
        "datasets matching dune:urgent_*").select("name").collect()}
    assert "urgentX0" not in names
    assert any(n.startswith("urgent_") for n in names)


def test_profile_edges(engine):
    """engine.profile edge cases (the happy path is the
    oracle-twinned meta_numeric_profile entry): an empty file set
    still yields one row per key with n=0 and NULL stats; a string
    key profiles as all-NULL numerics (try_cast) rather than
    erroring; NULL-below-two-values stddev."""
    rows = {r["key"]: r for r in engine.profile(
        "files from test:all where core.run > 99999",
        ["size", "core.run"]).collect()}
    assert set(rows) == {"size", "core.run"}
    for r in rows.values():
        assert r["n"] == 0 and r["n_null"] == 0
        assert r["min"] is None and r["stddev"] is None
        assert r["p50"] is None
    one = {r["key"]: r for r in engine.profile(
        "files from test:all", ["core.data_type"]).collect()}
    # non-numeric string values try_cast to NULL: n counts NUMERIC
    # values only, the rest land in n_null
    r = one["core.data_type"]
    assert r["n"] == 0 and r["n_null"] > 0
    assert r["stddev"] is None and r["avg"] is None


def test_profile_bad_key_is_clean_error(engine):
    from metacat_spark.engine import QueryError
    import pytest as _pt
    with _pt.raises(QueryError, match="bad key"):
        engine.profile("files from test:all", ["si'ze"])
    with _pt.raises(QueryError, match="at least one"):
        engine.profile("files from test:all", [])
