"""Hypothesis differential tests: the DataFrame predicate compiler vs
the row-level Python evaluator over randomized metadata rows and
randomized predicate trees — the reference's implicit SQL-vs-Python
differential oracle (SURVEY.md §5), made systematic."""

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metacat_spark.evaluator import RowEvaluator
from metacat_spark.mql import parse
from metacat_spark.mql.ast import FileQuery, WhereOp
from metacat_spark.predicate import PredicateCompiler
from metacat_spark.schema import MetaKey, MetaSchema

META = MetaSchema([
    MetaKey("t.i", "m_i", "int"),
    MetaKey("t.f", "m_f", "float"),
    MetaKey("t.s", "m_s", "str"),
    MetaKey("t.b", "m_b", "bool"),
    MetaKey("t.ia", "m_ia", "int[]"),
    MetaKey("t.sa", "m_sa", "str[]"),
])

SCHEMA = T.StructType([
    T.StructField("rid", T.IntegerType()),
    T.StructField("m_i", T.IntegerType()),
    T.StructField("m_f", T.DoubleType()),
    T.StructField("m_s", T.StringType()),
    T.StructField("m_b", T.BooleanType()),
    T.StructField("m_ia", T.ArrayType(T.IntegerType())),
    T.StructField("m_sa", T.ArrayType(T.StringType())),
])

maybe = lambda s: st.none() | s
row_st = st.fixed_dictionaries({
    "t.i": maybe(st.integers(-5, 5)),
    "t.f": maybe(st.floats(-2, 2, allow_nan=False, width=32)
                 .map(lambda x: round(x, 3))),
    "t.s": maybe(st.sampled_from(["aa", "ab", "ba", "zz", ""])),
    "t.b": maybe(st.booleans()),
    "t.ia": maybe(st.lists(st.integers(-3, 3), max_size=4)),
    "t.sa": maybe(st.lists(st.sampled_from(["x", "y", "z"]), max_size=3)),
})

_scalar = st.sampled_from(["t.i", "t.f", "t.s", "t.b"])
_arr = st.sampled_from(["t.ia", "t.sa"])
_cmp_op = st.sampled_from(["<", "<=", ">", ">=", "=", "!="])


def _const_for(key):
    return {
        "t.i": st.integers(-5, 5).map(str),
        "t.f": st.floats(-2, 2, allow_nan=False).map(
            lambda x: repr(round(x, 2))),
        "t.s": st.sampled_from(['"aa"', '"ab"', '"zz"']),
        "t.b": st.sampled_from(["true", "false"]),
        "t.ia": st.integers(-3, 3).map(str),
        "t.sa": st.sampled_from(['"x"', '"y"', '"q"']),
    }[key]


def _atom():
    def cmp(key, op, c):
        return f"{key} {op} {c}"

    simple = st.one_of(
        st.tuples(_scalar, _cmp_op).flatmap(
            lambda t: _const_for(t[0]).map(lambda c: cmp(t[0], t[1], c))),
        st.sampled_from(["t.i", "t.f", "t.s", "t.b", "t.ia", "t.sa"]).map(
            lambda k: f"{k} present"),
        st.sampled_from(["t.i", "t.f", "t.s", "t.b", "t.ia", "t.sa"]).map(
            lambda k: f"{k} not present"),
        st.tuples(st.integers(-5, 5), st.integers(-5, 5)).map(
            lambda t: f"t.i in {min(t)}:{max(t)}"),
        st.tuples(st.integers(-5, 5), st.integers(-5, 5)).map(
            lambda t: f"t.i in ({t[0]}, {t[1]})"),
        st.tuples(_arr, _cmp_op).flatmap(
            lambda t: _const_for(t[0]).map(
                lambda c: f"{t[0]}[any] {t[1]} {c}")),
        st.tuples(_arr, _cmp_op).flatmap(
            lambda t: _const_for(t[0]).map(
                lambda c: f"{t[0]}[all] {t[1]} {c}")),
        st.integers(-3, 3).map(lambda i: f"{i} in t.ia"),
        st.sampled_from(['"x"', '"q"']).map(lambda c: f"{c} in t.sa"),
        st.integers(0, 4).map(lambda n: f"len(t.ia) >= {n}"),
        st.integers(-2, 3).flatmap(
            lambda i: st.integers(-3, 3).map(
                lambda v: f"t.ia[{i}] = {v}")),
        st.sampled_from(["a", "a.", "^a", "b$", "zz", "q"]).flatmap(
            lambda p: st.sampled_from(["~", "~*", "!~", "!~*"]).map(
                lambda op: f't.s {op} "{p}"')),
        st.sampled_from(['"aa"', '"zz"', '"q"']).flatmap(
            lambda lo: st.sampled_from(['"ab"', '"zz"']).map(
                lambda hi: f"t.s in {lo}:{hi}")),
        st.sampled_from(['"a"', '"b"', '"q"']).map(
            lambda c: f"{c} in t.s"),
        st.sampled_from(["a%", "%b", "a_", "%", "zz", "q%"]).map(
            lambda p: f't.s like "{p}"'),
        # like/regex over a NON-string column: the row evaluator must
        # render values the way Spark casts them (true, not True)
        st.sampled_from(["tr%", "%e", "fals_", "%a%", "q"]).map(
            lambda p: f't.b like "{p}"'),
        st.sampled_from(["^t", "ru", "als", "e$", "q"]).flatmap(
            lambda p: st.sampled_from(["~", "~*", "!~", "!~*"]).map(
                lambda op: f't.b {op} "{p}"')),
    )
    return simple


def _exprs(depth=2):
    if depth == 0:
        return _atom()
    sub = _exprs(depth - 1)
    return st.one_of(
        _atom(),
        st.tuples(sub, sub).map(lambda t: f"({t[0]} and {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"({t[0]} or {t[1]})"),
        sub.map(lambda e: f"!({e})"),
    )


@pytest.fixture(scope="module")
def compiler():
    return PredicateCompiler(META, {}, json_column=None)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(rows=st.lists(row_st, min_size=1, max_size=12),
       where=_exprs(2))
def test_compiler_matches_row_evaluator(rows, where, spark, compiler):
    exp = parse(f"files where {where}")
    assert isinstance(exp, FileQuery) and isinstance(exp.tree, WhereOp)
    pred = exp.tree.exp

    data = []
    for i, meta in enumerate(rows):
        data.append((
            i, meta["t.i"], meta["t.f"], meta["t.s"], meta["t.b"],
            meta["t.ia"], meta["t.sa"]))
    df = spark.createDataFrame(data, SCHEMA)
    try:
        col = compiler.compile(pred)
    except Exception as e:
        pytest.skip(f"compile rejected: {e}")
    got = sorted(r["rid"] for r in df.where(col).select("rid").collect())

    want = []
    for i, meta in enumerate(rows):
        clean = {k: v for k, v in meta.items() if v is not None}
        if RowEvaluator(clean).passes(pred):
            want.append(i)
    assert got == want, (
        f"divergence for {where!r}\nrows={json.dumps(rows, default=str)}"
        f"\nspark={got}\npython={want}")


_SET_LEAVES = st.sampled_from([
    "files from dune:urgent_0",
    "files from dune:urgent_1",
    "files from mc:flag_r",
    "files from test:all where core.run > 250",
    "files from dune:high_0 where core.good = true",
])


def _set_trees(depth=2):
    if depth == 0:
        return _SET_LEAVES
    sub = _set_trees(depth - 1)
    return st.one_of(
        _SET_LEAVES,
        st.tuples(sub, sub).map(lambda t: f"union({t[0]}, {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"join({t[0]}, {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"({t[0]}) - ({t[1]})"),
        sub.map(lambda q: f"({q}) where core.x <= 0.5"),
    )


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(mql=_set_trees(2))
def test_set_op_fast_path_property(mql, engine):
    """Random set-algebra trees: the id-set fast path must select the
    same id SET as the multiplicity-exact row-level path."""
    saved = engine.cat.ids_unique
    try:
        out = {}
        for forced in (True, False):
            engine.cat.publish(ids_unique=forced)
            out[forced] = sorted({
                r["id"] for r in engine.query(mql).select("id").collect()})
        assert out[True] == out[False], mql
    finally:
        engine.cat.publish(ids_unique=saved)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(ops=st.lists(
    st.one_of(st.tuples(st.just("skip"), st.integers(0, 30)),
              st.tuples(st.just("limit"), st.integers(0, 40))),
    min_size=1, max_size=5))
def test_skip_limit_merge_law_property(ops, spark, engine_small):
    """Random skip/limit chains: the engine must equal naive
    sequential slicing over the id-ordered list
    (docs/mql.rst:749-804 law)."""
    mql = "files from dune:urgent_0 ordered" + "".join(
        f" {op} {n}" for op, n in ops)
    got = [r["id"] for r in engine_small.query(mql).collect()]
    want = engine_small._all_ids_cache
    for op, n in ops:
        want = want[n:] if op == "skip" else want[:n]
    assert got == want, mql


# --------------------------- round-5 operator invariants (pure model)

words_st = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=3),
    min_size=1, max_size=30)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(docs=st.lists(words_st, min_size=1, max_size=8))
def test_duplicate_spans_invariants(docs, spark):
    """Model-free invariants over arbitrary tiny corpora: spans lie
    inside their document, are at least 1 token (n unless the doc is
    shorter), never overlap, and every spanned position really is
    covered by a corpus-duplicated n-gram occurrence."""
    from metacat_spark.llm.dedup import duplicate_spans
    n = 3
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = sorted((r["doc_id"], r["span_start"], r["span_end"])
                   for r in duplicate_spans(df, n=n,
                                            min_count=2).collect())
    # reference model in plain python
    from collections import Counter
    toks = {i: ws for i, ws in enumerate(docs)}
    occ = Counter()
    gram_at = {}
    for i, ws in toks.items():
        grams = ([tuple(ws[p:p + n])
                  for p in range(len(ws) - n + 1)]
                 if len(ws) >= n else [tuple(ws)])
        gram_at[i] = grams
        occ.update(grams)
    covered = {}
    for i, ws in toks.items():
        cov = set()
        for p, g in enumerate(gram_at[i]):
            if occ[g] >= 2:
                cov.update(range(p, min(p + n, len(ws))))
        covered[i] = cov
    got_cov = {i: set() for i in toks}
    last_end = {}
    for i, s0, s1 in spans:
        assert 0 <= s0 < s1 <= len(toks[i])
        assert s0 >= last_end.get(i, 0), "overlapping spans"
        last_end[i] = s1
        got_cov[i].update(range(s0, s1))
    assert got_cov == covered


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(fracs=st.lists(st.floats(0.05, 1.0), min_size=1, max_size=4),
       n_ids=st.integers(1, 40))
def test_split_corpus_always_partitions(fracs, n_ids, spark):
    """For ANY fraction recipe (normalized), every id lands in
    exactly one split and the split names are the given ones."""
    from metacat_spark.llm.pipeline import split_corpus
    total = sum(fracs)
    splits = {f"s{i}": f / total for i, f in enumerate(fracs)}
    df = spark.createDataFrame([(i,) for i in range(n_ids)],
                               ["doc_id"])
    rows = split_corpus(df, splits).collect()
    assert len(rows) == n_ids
    assert {r["split"] for r in rows} <= set(splits)
